package graft.identity

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** O16 — the reference's flagship capability: identity transitive closure
  * (connected components over the `tb_identity` alias-edge graph,
  * `/root/reference/src/KissmetricsToDatabase.php:359-455,506-559`,
  * `/root/reference/src/Operations/FileImporter.php:95-130`).
  *
  * The reference has three mutually inconsistent single-node implementations
  * (SURVEY.md §7.4); we implement the *correct* semantics — true connected
  * components, canonical id = min of component — with the alternating
  * large-star / small-star algorithm (Kiveris et al., "Connected Components
  * in MapReduce and Beyond", SoCC'14), which converges in O(log n) rounds of
  * pure DataFrame joins/aggregations and is the standard shape for
  * trillion-edge graphs:
  *
  *  - large-star: connect every neighbor larger than u to u's minimum neighbor
  *  - small-star: connect every neighbor not larger than u to u's minimum neighbor
  *
  * Scale design: each round is one shuffle on the node id; lineage is cut with
  * `localCheckpoint` every round (iterative plans otherwise grow without
  * bound); convergence is detected by an aggregate signature of the edge set
  * (count + sum of per-edge hashes) — no driver-side collect of data, just two
  * scalar aggregates per round. Skewed high-degree nodes are exactly what
  * large-star is designed to shrink; AQE handles residual shuffle skew.
  *
  * Hybrid tail: star rounds shrink the edge set geometrically, so the last
  * O(log n) rounds are tiny jobs whose cost is pure scheduling overhead.
  * Once the live edge count (already known from the convergence signature —
  * no extra job) drops below `driverFinishEdges`, the remainder is collected
  * and finished with one in-memory union-find, and the result re-distributed.
  * The threshold bounds driver memory — honestly: 1M collected edges are
  * ~16 MB of raw longs but several hundred MB TRANSIENT as boxed tuples +
  * union-find HashMap + the LocalRelation the result re-distributes
  * through (~100 B/edge all-in), which is why the default is 1M and not
  * "whatever fits as primitives". The operator stays distributed exactly
  * while the data is big and skips the fixed-overhead tail — on a
  * 1000-executor cluster this saves the same rounds it saves at bench
  * scale; raise the threshold only with driver heap to match.
  */
object Components {

  /** Edge-count threshold below which CC finishes with a driver-side
    * union-find instead of more star rounds. ~100 B/edge transient
    * driver footprint (boxed tuples + HashMap + LocalRelation) — 1M
    * edges ≈ low hundreds of MB, safe on a default driver heap. */
  val DefaultDriverFinishEdges: Long = 1000000L

  /** String ordering by UTF-8 bytes (unsigned) — the order Spark's
    * UTF8String binary comparison (and so `min` on a string column) uses.
    * Equivalent to code-point order; differs from `Ordering[String]`
    * (UTF-16 code units) exactly on supplementary-plane characters. */
  private[identity] val Utf8Ordering: Ordering[String] = (a: String, b: String) =>
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Release the block-manager storage behind a `localCheckpoint`ed
    * DataFrame. `Dataset.unpersist` can't: the checkpointed RDD is persisted
    * directly (not via the CacheManager), so it otherwise lives until the
    * ContextCleaner notices the RDD object was garbage-collected.
    */
  def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** In-memory union-find, canonical = Ordering-min of each set. Iterative
    * find (no recursion — component chains can exceed stack depth) with
    * full path compression. Input pairs need not be deduplicated. */
  private def unionFindMin[T](pairs: Iterator[(T, T)])(
      implicit ord: Ordering[T]): Iterator[(T, T)] = {
    val parent = scala.collection.mutable.HashMap.empty[T, T]
    def find(x0: T): T = {
      var r = x0
      while (parent(r) != r) r = parent(r)
      var x = x0
      while (parent(x) != r) { val nxt = parent(x); parent(x) = r; x = nxt }
      r
    }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
      }
    }
    // snapshot keys first: find() compresses paths (value writes) while
    // we iterate
    parent.keys.toList.iterator.map(k => k -> find(k))
  }

  /** Connected components of an undirected edge list.
    *
    * @param edges DataFrame with two Long-compatible columns (src, dst).
    * @param inputDistinct caller guarantees the edge list is already
    *        DISTINCT with no nulls/self-loops (direction irrelevant) —
    *        skips the normalize `distinct()`, which is a full shuffle of
    *        the edge set (the LSH pair pipelines end in exactly such a
    *        distinct, so re-distincting would double that cost at scale).
    * @return DataFrame `(node: Long, component: Long)` — every node that
    *         appears in any edge, with component = min node id of its
    *         component. Deterministic.
    */
  def connectedComponents(edges: DataFrame, maxIterations: Int = 50,
      driverFinishEdges: Long = DefaultDriverFinishEdges,
      inputDistinct: Boolean = false,
      roundListener: (Int, Long) => Unit = (_, _) => ()): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    val cols = edges.columns
    require(cols.length == 2, s"edges must have exactly 2 columns, got ${cols.mkString(",")}")

    // Normalize: Long pairs, no self-loops, undirected-canonical (big, small), distinct.
    val typed = edges
      .select(col(cols(0)).cast("long").as("u"), col(cols(1)).cast("long").as("v"))
    val canonical = {
      val c = typed.select(greatest($"u", $"v").as("u"), least($"u", $"v").as("v"))
      if (inputDistinct) c
      else c.where($"u".isNotNull && $"v".isNotNull && $"u" =!= $"v").distinct()
    }
    var e = canonical.localCheckpoint(eager = true)

    // All original nodes (star edges can drop isolated-after-contraction
    // nodes from intermediate edge sets; we re-attach at the end). Derived
    // lazily from the checkpointed initial edge set — no extra
    // materialization job.
    val e0 = e
    def nodes = e0.select($"u".as("node")).union(e0.select($"v".as("node")))
      .distinct()

    def signature(df: DataFrame): (Long, Long) = {
      // bit_xor, not sum: order-independent AND overflow-free (Spark 4 runs
      // ANSI mode by default, where summing 64-bit hashes throws).
      val row = df.agg(
        count(lit(1)).as("c"),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)).as("h")).head()
      (row.getLong(0), row.getLong(1))
    }

    // large-star: for each node u with neighborhood N(u) (both directions),
    // m = min(N(u) ∪ {u}); emit (v, m) for v in N(u) with v > u.
    // No distinct here: duplicate edges are idempotent under the min
    // aggregations downstream and small-star ends with a distinct — saving
    // one shuffle per round. (v > u >= m also makes emitted pairs already
    // canonical (big, small) with u != v guaranteed.)
    def largeStar(ed: DataFrame): DataFrame = {
      val nbrs = ed.select($"u", $"v").union(ed.select($"v".as("u"), $"u".as("v")))
      val m = nbrs.groupBy($"u").agg(min($"v").as("mn"))
        .select($"u", least($"u", $"mn").as("m"))
      nbrs.join(m, "u")
        .where($"v" > $"u")
        .select($"v".as("u"), $"m".as("v"))
    }

    // small-star: edges already canonical (u > v); m = min(N≤(u) ∪ {u});
    // emit (v, m) for v in N≤(u) ∪ {u}, v != m.
    def smallStar(ed: DataFrame): DataFrame = {
      val m = ed.groupBy($"u").agg(min($"v").as("m"))
      val reattach = m.select($"u", $"m".as("v")) // (u, m) covers v == u case
      ed.join(m, "u")
        .select($"v".as("u"), $"m".as("v"))
        .union(reattach)
        .where($"u" =!= $"v")
        // already canonical — no greatest/least needed: every emitted row
        // is (x, m) with m the group min, so x >= m, and equality just
        // filtered; ComponentsSpec's brute-force union-find comparisons
        // pin the equivalence
        .distinct()
    }

    val debug = sys.env.contains("GRAFT_CC_DEBUG")
    var sig = signature(e)
    var converged = sig._1 == 0
    var iter = 0
    while (!converged && sig._1 > driverFinishEdges && iter < maxIterations) {
      val t0 = System.nanoTime()
      // exactly ONE alternation per materialization: each star references
      // its input 2-3 times, so composing stars without a checkpoint
      // multiplies the un-materialized subtree ~3^k — measured 3.6x slower
      // with two rounds per checkpoint
      val next = smallStar(largeStar(e)).localCheckpoint(eager = true)
      val nextSig = signature(next)
      converged = nextSig == sig
      sig = nextSig
      // superseded iteration checkpoints are dead the moment `next` is
      // materialized — release them now instead of waiting for the
      // ContextCleaner (at scale each holds an edge-set-sized block per
      // executor; k leaked iterations = k x that). The INPUT checkpoint
      // (iter 0) stays: `nodes` in the returned plan still reads it.
      if (iter > 0) unpersistCheckpoint(e)
      e = next
      iter += 1
      roundListener(iter, sig._1)
      if (debug) System.err.println(
        f"[cc] iter=$iter edges=${sig._1} ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }

    val member =
      if (converged)
        // Converged star forest: u (member) -> v (root = min). Roots map to
        // themselves via the left-join coalesce below.
        e.select($"u".as("node"), $"v".as("component"))
      else {
        // Hybrid tail: the live edge set fits the driver — one union-find
        // replaces the remaining O(log n) scheduling-bound rounds. Star
        // rounds rewire edges among ORIGINAL node ids and only drop nodes
        // once isolated, so components of the contracted set equal those of
        // the original graph restricted to its remaining nodes.
        // The collect is gated on the SAME bound that ended the loop: if we
        // got here by exhausting maxIterations with the edge set still above
        // driverFinishEdges, collecting would be unbounded — fail loudly
        // instead of OOMing the driver.
        if (sig._1 > driverFinishEdges) throw new IllegalStateException(
          s"connectedComponents: not converged after $maxIterations star " +
            s"rounds and ${sig._1} edges remain (> driverFinishEdges=" +
            s"$driverFinishEdges); raise maxIterations or driverFinishEdges")
        val pairs = e.select($"u", $"v").as[(Long, Long)].collect()
        if (debug) System.err.println(s"[cc] driver-finish edges=${pairs.length}")
        spark.createDataset(unionFindMin(pairs.iterator).toSeq)
          .toDF("node", "component")
      }
    nodes.join(member, Seq("node"), "left")
      .select($"node", coalesce($"component", $"node").as("component"))
  }

  /** Incremental merge: closure(existing assignments ∪ new edges) — the
    * correct version of the reference's G2 "resolve against one LIMIT 1
    * match" (which fails to merge two existing clusters bridged by a new
    * edge, `/root/reference/src/Operations/FileImporter.php:104-130`).
    * Assignments are themselves edges (node—component), so the union's
    * closure is exact; cost is proportional to the *delta* graph diameter.
    */
  def mergeIncremental(assignments: DataFrame, newEdges: DataFrame): DataFrame = {
    val cols = assignments.columns
    val asEdges = assignments.select(col(cols(0)).as("u"), col(cols(1)).as("v"))
    val ncols = newEdges.columns
    val ne = newEdges.select(col(ncols(0)).as("u"), col(ncols(1)).as("v"))
    connectedComponents(asEdges.union(ne))
  }

  /** The metrics row an [[Observation]] collected on an action that has
    * already run. Waits a bounded time for the listener that delivers it
    * and fails loudly instead of hanging if it never arrives. */
  private[graft] def observed(o: Observation): Row =
    Await.result(o.future, 10.minutes)

  /** String-id convenience: hashes string identities to stable 64-bit ids,
    * runs CC on longs (8-byte shuffle keys instead of arbitrary strings —
    * the 100 TB version), then maps back and picks the min *string* per
    * component as canonical.
    *
    * The result is always materialized, so a caller may overwrite or append
    * to the input's source without re-reading it: a local relation on the
    * driver-finish path and for an empty edge set, a `localCheckpoint` on
    * the distributed path.
    *
    * @param collisionFree when true, dictionary ids come from a
    *   zipWithIndex over the distinct identities instead of xxhash64 —
    *   two distinct strings can NEVER share a numeric id, at the cost of
    *   one extra pass + checkpoint over the (deduplicated) id dictionary.
    *   Use for identity resolution at 10⁹+ ids, where a silent hash
    *   over-merge would corrupt every downstream join; the default hash
    *   path stays for lower-stakes near-dup clustering (collision odds
    *   ~n²/2⁶⁵, and the blast radius is one merged cluster). */
  def connectedComponentsString(edges: DataFrame,
      driverFinishEdges: Long = 1000000L,
      collisionFree: Boolean = false): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val cols = edges.columns
    val e0 = edges.select(col(cols(0)).cast("string").as("a"), col(cols(1)).cast("string").as("b"))
    // Normalize once and materialize; the edge count is observed on the
    // checkpoint job itself (no separate count job), and the dict/join path
    // reads the checkpoint instead of re-scanning the input.
    val counted = Observation("cc_edges")
    val e = e0
      .where($"a".isNotNull && $"b".isNotNull && $"a" =!= $"b")
      .distinct()
      .observe(counted, count(lit(1)).as("n"))
      .localCheckpoint(eager = true)
    val edgeCount = observed(counted).getLong(0)
    if (edgeCount == 0)
      return Seq.empty[(String, String)].toDF("id", "canonical_id")
    if (edgeCount <= driverFinishEdges) {
      // Small graph: skip the dictionary hashing + three joins entirely —
      // one collect + union-find, canonical = min string per component.
      // Canonical selection uses UTF-8 BYTE order, not Ordering[String]
      // (UTF-16 code units): Spark's min($"id") on the distributed path
      // compares UTF8String binary, and the two orders DISAGREE for
      // supplementary-plane characters (surrogates sort low in UTF-16) —
      // without this the same data could flip canonical ids as it grows
      // across the driverFinishEdges threshold.
      val pairs = e.as[(String, String)].collect()
      val result = unionFindMin(pairs.iterator)(Components.Utf8Ordering).toSeq
      unpersistCheckpoint(e)
      return spark.createDataset(result).toDF("id", "canonical_id")
    }
    val ids = e.select($"a".as("id")).union(e.select($"b".as("id"))).distinct()
    val dict = (if (collisionFree) {
      // zipWithIndex: one extra job over the distinct ids, ids assigned
      // 0..n-1 — injective by construction. Checkpoint eagerly: the index
      // an id receives depends on partition layout, so a lazy recompute
      // between the le and withId joins could silently renumber ids;
      // the checkpoint pins one assignment for all three consumers.
      spark.createDataFrame(
        ids.select($"id").rdd.zipWithIndex.map { case (r, i) =>
          org.apache.spark.sql.Row(r.getString(0), i)
        },
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField("nid",
            org.apache.spark.sql.types.LongType, nullable = false))))
        .localCheckpoint(eager = true)
    } else {
      // xxhash64 collisions are possible in principle; at reference scale
      // the id space is people (≤ billions) and a collision merely
      // over-merges one pair — acceptable for near-dup clustering; pass
      // collisionFree = true where an over-merge is unacceptable.
      ids.withColumn("nid", xxhash64($"id"))
    }).persist(StorageLevel.MEMORY_AND_DISK)
    val le = e.join(dict.withColumnRenamed("id", "a").withColumnRenamed("nid", "na"), "a")
      .join(dict.withColumnRenamed("id", "b").withColumnRenamed("nid", "nb"), "b")
      .select($"na", $"nb")
    // le is NEARLY distinct: dict maps distinct DIRECTED string pairs, so
    // a caller that mixed orientations (("A","B") and ("B","A") — e.g. an
    // incremental union of prior alias→canonical assignments with new
    // person→alias edges) yields both numeric orientations here, which
    // canonicalize to duplicates inside CC. That is correctness-neutral
    // (duplicates are idempotent under the star min-aggregations) and at
    // worst doubles round-0 edge counts — accepted to skip the full
    // edge-set re-distinct shuffle. Hash-collision self-loops likewise.
    val cc = connectedComponents(le, inputDistinct = true)
    val withId = cc.join(dict, cc("node") === dict("nid")).select($"id", $"component")
    val canon = withId.groupBy($"component").agg(min($"id").as("canonical_id"))
    // Materialize before releasing the dictionary cache: the withId/canon
    // joins are lazy and reference dict 3×; unpersisting first would make
    // every downstream action recompute (and re-hash) the dictionary.
    val out = withId.join(canon, "component").select($"id", $"canonical_id")
      .localCheckpoint(eager = true)
    // `out` is materialized — release every upstream block this function
    // pinned: the cached (and, collision-free, checkpointed) dictionary
    // and the normalized string-edge checkpoint. Without the explicit
    // release a per-micro-batch caller (IdentityStream) accumulates
    // edge-set-sized executor blocks until the ContextCleaner happens to
    // notice the dead RDD objects.
    dict.unpersist()
    unpersistCheckpoint(dict)
    unpersistCheckpoint(e)
    out
  }
}
