package graft.identity

import scala.concurrent.duration._
import scala.util.Random

import graft.SparkSpec

/** Property-style tests (seeded random, deterministic) for the O16
  * connected-components operator: Spark result must equal a driver-side
  * union-find on the same edges, canonical id = min of component, and
  * incremental (two batches) ≡ batch (union) — the reference's
  * G1-vs-G2-vs-rebuild equivalence question (SURVEY.md §5.3).
  */
class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  /** Reference implementation: union-find with min-label canonicalization. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(ra) = rb
    }
    edges.foreach { case (a, b) => union(a, b) }
    val roots = parent.keys.map(k => k -> find(k)).toMap
    val minOf = roots.groupBy(_._2).map { case (r, m) => r -> m.keys.min }
    roots.map { case (k, r) => k -> minOf(r) }
  }

  private def sparkCC(edges: Seq[(Long, Long)],
      driverFinishEdges: Long = Components.DefaultDriverFinishEdges): Map[Long, Long] =
    Components.connectedComponents(edges.toDF("src", "dst"),
        driverFinishEdges = driverFinishEdges)
      .as[(Long, Long)].collect().toMap

  test("matches union-find on random graphs (seeded) — driver-finish path") {
    val rnd = new Random(42)
    for (trial <- 1 to 8) {
      val n = 5 + rnd.nextInt(60)
      val m = rnd.nextInt(3 * n)
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      if (edges.nonEmpty) {
        val expected = unionFind(edges)
        val got = sparkCC(edges)
        assert(got == expected, s"trial $trial n=$n m=$m")
      }
    }
  }

  test("matches union-find on random graphs (seeded) — pure star path") {
    val rnd = new Random(7)
    for (trial <- 1 to 5) {
      val n = 5 + rnd.nextInt(60)
      val m = rnd.nextInt(3 * n)
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      if (edges.nonEmpty) {
        // driverFinishEdges = 0 forces star rounds all the way to convergence
        val got = sparkCC(edges, driverFinishEdges = 0L)
        assert(got == unionFind(edges), s"trial $trial n=$n m=$m")
      }
    }
  }

  test("power-law skew: O(log n) rounds, monotone contraction, bounded checkpoints") {
    import org.apache.spark.sql.functions.{lit, pow, rand}
    // Zipf-ish generator: node = floor(N^r), r uniform — degree ∝ 1/node,
    // so node 1 is a massive hub: one giant component plus a power-law
    // tail. This is the skew shape that breaks naive label propagation
    // (the hub's neighborhood re-shuffles every round).
    val n = 50000.0
    val edges = spark.range(100000).select(
      pow(lit(n), rand(11)).cast("long").as("src"),
      pow(lit(n), rand(12)).cast("long").as("dst"))
    val local = edges.as[(Long, Long)].collect().toSeq.filter(p => p._1 != p._2)

    val rounds = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    var maxExtraPersisted = 0
    val got = Components.connectedComponents(edges, driverFinishEdges = 0L,
        roundListener = (i, e) => {
          rounds += ((i, e))
          maxExtraPersisted = math.max(maxExtraPersisted,
            spark.sparkContext.getPersistentRDDs.size - persistedBefore)
        })
      .as[(Long, Long)].collect().toMap

    assert(got == unionFind(local), "skewed-graph components wrong")
    // star iteration halves component diameter per alternation: rounds must
    // stay O(log n), not O(diameter) — for n=50k, comfortably under 12
    assert(rounds.size <= 12, s"took ${rounds.size} rounds: $rounds")
    // the live edge set must contract monotonically to the star forest
    val sizes = rounds.map(_._2)
    assert(sizes.zip(sizes.tail).forall { case (a, b) => b <= a },
      s"edge set grew between rounds: $rounds")
    // superseded round checkpoints are released as we go: at most the
    // input checkpoint + current round + in-flight next may be live
    assert(maxExtraPersisted <= 3,
      s"$maxExtraPersisted extra checkpoints live — superseded rounds leak")
  }

  test("exhausted maxIterations above driverFinishEdges fails loudly, not collect") {
    // a live edge set above the driver-finish bound when rounds run out
    // must throw (collecting it would be unbounded at scale)
    val edges = (0L until 40L).sliding(2).map(s => (s(0), s(1))).toSeq
    val ex = intercept[IllegalStateException] {
      Components.connectedComponents(edges.toDF("src", "dst"),
        maxIterations = 0, driverFinishEdges = 0L).collect()
    }
    assert(ex.getMessage.contains("not converged"))
  }

  test("hybrid threshold mid-iteration agrees with both extremes") {
    // a long chain takes several star rounds; a small threshold lets some
    // rounds run distributed, then hands the contracted tail to the driver
    val edges = (0L until 40L).sliding(2).map(s => (s(0), s(1))).toSeq
    val pure = sparkCC(edges, driverFinishEdges = 0L)
    val mid = sparkCC(edges, driverFinishEdges = 10L)
    val drv = sparkCC(edges)
    assert(pure == drv && mid == drv)
    assert(drv.values.toSet == Set(0L))
  }

  test("inputDistinct fast path agrees with the normalizing default") {
    val rnd = new Random(11)
    for (trial <- 1 to 5) {
      val n = 5 + rnd.nextInt(40)
      val edges = Seq.fill(rnd.nextInt(2 * n) + 1)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .distinct
      if (edges.nonEmpty) {
        val fast = Components.connectedComponents(
          edges.toDF("src", "dst"), inputDistinct = true)
          .as[(Long, Long)].collect().toMap
        assert(fast == sparkCC(edges), s"trial $trial")
      }
    }
  }

  test("chain collapses to single component with min canonical") {
    val edges = (0L until 30L).sliding(2).map(s => (s(0), s(1))).toSeq
    val got = sparkCC(edges)
    assert(got.values.toSet == Set(0L))
    assert(got.keySet == (0L until 30L).toSet)
  }

  test("two disjoint cliques stay separate") {
    val a = for (i <- 0L to 3L; j <- (i + 1) to 4L) yield (i, j)
    val b = for (i <- 10L to 13L; j <- (i + 1) to 14L) yield (i, j)
    val got = sparkCC(a ++ b)
    assert((0L to 4L).forall(got(_) == 0L))
    assert((10L to 14L).forall(got(_) == 10L))
  }

  test("incremental merge equals batch closure when a bridge arrives") {
    // the exact failure mode of the reference's G2 LIMIT-1 resolve:
    // two existing clusters {1,2} and {10,11}, new edge 2-10 bridges them
    val batch1 = Seq((1L, 2L), (10L, 11L))
    val assignments = sparkCC(batch1).toSeq.toDF("node", "component")
    val bridge = Seq((2L, 10L)).toDF("src", "dst")
    val merged = Components.mergeIncremental(assignments, bridge)
      .as[(Long, Long)].collect().toMap
    val batchAll = sparkCC(batch1 :+ (2L, 10L))
    assert(merged == batchAll)
    assert(merged.values.toSet == Set(1L))
  }

  test("string ids: canonical is min string per component") {
    val edges = Seq(("anon-9", "user@x"), ("user@x", "anon-1"), ("z", "y"))
      .toDF("a", "b")
    val got = Components.connectedComponentsString(edges)
      .as[(String, String)].collect().toMap
    assert(got("anon-9") == "anon-1")
    assert(got("user@x") == "anon-1")
    assert(got("anon-1") == "anon-1")
    assert(got("z") == "y")
    assert(got("y") == "y")
    // the distributed dict path (hash-to-long + joins) must agree
    val distributed = Components.connectedComponentsString(edges, driverFinishEdges = 0L)
      .as[(String, String)].collect().toMap
    assert(distributed == got)
  }

  test("collisionFree dictionary keeps xxhash64-colliding ids in separate components") {
    import spark.implicits._
    // engineered XXH64(seed 42) collision: the 16-byte string was built by
    // inverting the <32-byte finalization path (avalanche, chunk round and
    // the P1/P2 multiplies are all bijective mod 2^64) so both hash to
    // 8524165555185383493 — verified against Spark's own xxhash64 below
    val s1 = "kemubcrd"
    val s2 = "pxprestdSJUI0Hvm"
    val hashes = Seq(s1, s2).toDF("s").selectExpr("xxhash64(s)")
      .as[Long].collect()
    assert(hashes(0) == hashes(1) && hashes(0) == 8524165555185383493L,
      s"collision pair no longer collides under Spark xxhash64: ${hashes.toSeq}")
    // two disjoint components, one touching each colliding id; force the
    // distributed dictionary path (driverFinishEdges = 0 — the driver
    // union-find works on strings and cannot collide)
    val edges = Seq((s1, "left-peer"), (s2, "right-peer")).toDF("a", "b")
    val hashed = Components.connectedComponentsString(edges, driverFinishEdges = 0L)
      .as[(String, String)].collect().toMap
    // documents the hazard: the default hash dictionary over-merges
    assert(hashed.values.toSet.size == 1,
      s"expected the hash path to over-merge the engineered collision: $hashed")
    val safe = Components.connectedComponentsString(edges, driverFinishEdges = 0L,
      collisionFree = true).as[(String, String)].collect().toMap
    assert(safe(s1) == Seq(s1, "left-peer").min)
    assert(safe(s2) == Seq(s2, "right-peer").min)
    assert(safe.values.toSet.size == 2,
      s"collisionFree path merged colliding ids: $safe")
  }

  test("collisionFree agrees with the hash path on collision-free graphs") {
    import spark.implicits._
    val edges = Seq(("anon-9", "user@x"), ("user@x", "anon-1"), ("z", "y"))
      .toDF("a", "b")
    val hashed = Components.connectedComponentsString(edges, driverFinishEdges = 0L)
      .as[(String, String)].collect().toMap
    val safe = Components.connectedComponentsString(edges, driverFinishEdges = 0L,
      collisionFree = true).as[(String, String)].collect().toMap
    assert(safe == hashed)
  }

  test("canonical string agrees across the driver/distributed threshold for non-BMP ids") {
    import spark.implicits._
    // U+FFFF vs U+10000: Ordering[String] (UTF-16 code units) says
    // U+10000 < U+FFFF (surrogates sort low); Spark's UTF8String binary
    // min says U+FFFF < U+10000. The driver union-find uses the UTF-8
    // comparator so the SAME data yields the SAME canonical id on both
    // sides of the driverFinishEdges threshold.
    val bmp = "￿"
    val supp = new String(Character.toChars(0x10000))
    val edges = Seq((supp, bmp)).toDF("a", "b")
    val small = Components.connectedComponentsString(edges)
      .as[(String, String)].collect().toMap
    val dist = Components.connectedComponentsString(edges, driverFinishEdges = 0L)
      .as[(String, String)].collect().toMap
    assert(small == dist, s"canonical flipped across the threshold: $small vs $dist")
    assert(small(supp) == bmp, "canonical is not the UTF-8 minimum")
  }

  test("self-loops and duplicate edges are harmless") {
    val got = sparkCC(Seq((1L, 1L), (1L, 2L), (1L, 2L), (2L, 1L)))
    assert(got == Map(1L -> 1L, 2L -> 1L))
  }

  test("the observed edge count arrives for empty and self-loop-only input") {
    val cases = Seq(
      "empty" -> Seq.empty[(String, String)].toDF("a", "b"),
      "limit(0)" -> Seq(("x", "y")).toDF("a", "b").limit(0),
      "self-loops only" -> Seq(("x", "x"), ("y", "y")).toDF("a", "b"))
    for ((name, edges) <- cases; finish <- Seq(Components.DefaultDriverFinishEdges, 0L)) {
      val got = within(2.minutes)(
        Components.connectedComponentsString(edges, driverFinishEdges = finish).collect())
      assert(got.isEmpty, s"$name (driverFinishEdges=$finish)")
    }
  }
}
