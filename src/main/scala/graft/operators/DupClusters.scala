package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Duplicate-cluster assignment: connected components over the near-dup
  * pair graph, via min-label propagation to a fixpoint. Each doc ends up
  * labeled with the smallest doc id reachable through dup pairs — the
  * canonical representative used to drop all-but-one copy of a dup group.
  *
  * Scale shape: each iteration is one join + one aggregation on the edge
  * list (edges ~ near-dup pairs, tiny relative to the corpus); iteration
  * count is the graph diameter (near-dup clusters are shallow — a handful
  * of rounds). Labels are checkpointed per round to keep plans flat.
  */
object DupClusters {

  /** pairs: (doc_a, doc_b) with doc_a < doc_b. Returns (doc_id, cluster_id)
    * for every doc appearing in a pair; cluster_id = min id in component. */
  def assign(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    val edges = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .union(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
      .cache()
    var labels = edges.select(col("u").as("doc_id"))
      .distinct()
      .withColumn("cluster_id", col("doc_id"))
      .localCheckpoint(false)
    // the LogicalRDD-backed frame whose blocks hold the CURRENT labels
    // (labels itself becomes a projection over it after round 1)
    var pinned = labels
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      // each node adopts min(own label, neighbors' labels)
      val neighborMin = edges
        .join(labels.withColumnRenamed("doc_id", "v"), Seq("v"))
        .groupBy(col("u").as("doc_id"))
        .agg(min(col("cluster_id")).as("n_min"))
      // localCheckpoint truncates the per-round lineage so each iteration
      // costs one constant-size join, not a replay of all prior rounds.
      // LAZY pin + the convergence flag riding in the frame: the change
      // count below is the round's ONE action — it materializes the pin
      // and answers convergence in the same job (the eager variant paid a
      // dedicated checkpoint job per round on top of the probe).
      val next = labels.join(neighborMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("cluster_id"), coalesce(col("n_min"), col("cluster_id")))
            .as("cluster_id"),
          (col("n_min").isNotNull && col("n_min") < col("cluster_id"))
            .cast("long").as("__changed"))
        .localCheckpoint(false)
      // coalesce: sum over an empty frame (no near-dup pairs) is NULL.
      val changed =
        next.agg(coalesce(sum(col("__changed")), lit(0L))).first().getLong(0)
      // the superseded round's blocks are dead the moment `next` is
      // materialized — free them now instead of accumulating one pinned
      // label frame per round in the block manager
      Pins.free(pinned)
      pinned = next
      labels = next.drop("__changed")
      converged = changed == 0
      iter += 1
    }
    // Non-convergence means WRONG labels (a component wider than maxIters
    // hops still carries split cluster ids), and a dedup run against split
    // representatives silently keeps duplicates — fail loudly instead.
    // Min-label propagation moves one hop per round, so maxIters bounds the
    // component diameter the caller expects; raise it for chainier corpora.
    if (!converged)
      throw new IllegalStateException(
        s"label propagation did not converge in $maxIters rounds — a dup " +
          s"component's diameter exceeds maxIters; raise maxIters")
    labels
  }

  /** Connected components by alternating large-star / small-star contraction
    * (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii, "Connected
    * Components in MapReduce and Beyond", SoCC 2014): converges in
    * O(log^2 n) rounds regardless of component DIAMETER, where `assign`'s
    * label propagation pays one round per hop. Same output contract as
    * `assign`: (doc_id, cluster_id = min id in component) for every doc
    * appearing in a pair.
    *
    * Scale shape: each round is two grouped joins over the EDGE list only
    * (never the corpus), and the edge list shrinks as trees flatten into
    * stars. Convergence is detected exactly — the edge set is a star forest
    * iff no node appears as both a child and a root — not by a hash
    * signature, so a collision can never yield split clusters. Use this
    * over `assign` when dup chains can be long (CDC segment graphs,
    * crawl-revision chains); `assign` stays preferable only when the
    * diameter is known-small and the per-round constant matters.
    */
  def assignStar(pairs: DataFrame, maxIters: Int = 64): DataFrame =
    assignStarWithRounds(pairs, maxIters)._1

  /** Tier-0 bound: a canonical edge list at or under this row count is
    * contracted DRIVER-SIDE by union-find instead of by distributed star
    * rounds. Rationale (the probe-tier discipline — pick the plan from a
    * provable bound, not an estimate): every contraction round is a
    * fixed-latency multi-stage Spark job, so a dictionary-sized merge
    * graph (entity names, touched-cluster edges of one refresh round —
    * the common case for every caller) pays seconds of pure job latency
    * for microseconds of actual union-find work. 2^18 edges is ~16 MB of
    * long pairs / ~tens of MB of name strings collected transiently —
    * driver-safe by a wide margin — and the distributed rounds stand
    * unchanged past the bound, so corpus-scale merge graphs never touch
    * the driver. Results are identical by construction (union-by-min =
    * min-label components; DupClustersPropertySpec gates BOTH tiers
    * against the same reference). */
  private[operators] val DriverUnionFindMaxEdges: Int = 1 << 18

  /** As `assignStar`, also returning the round count (for specs and the
    * scale sidecar's rounds-vs-diameter evidence; 0 = the driver-side
    * union-find tier answered). `driverMaxEdges = 0` forces the
    * distributed contraction — specs gating the star rounds and the scale
    * sidecars measuring them pass it explicitly. */
  def assignStarWithRounds(pairs: DataFrame, maxIters: Int = 64,
                           driverMaxEdges: Int = DriverUnionFindMaxEdges): (DataFrame, Int) = {
    val keyType = pairs.schema.head.dataType
    if (driverMaxEdges > 0 &&
        (keyType == org.apache.spark.sql.types.LongType ||
         keyType == org.apache.spark.sql.types.StringType)) {
      // canonical edges WITH self-loops kept: a self-loop-only doc is a
      // node that must still label itself, and the take both probes the
      // bound and delivers the tier-0 input in one action
      val canon = pairs
        .select(least(col("doc_a"), col("doc_b")).as("u"),
          greatest(col("doc_a"), col("doc_b")).as("v"))
        .distinct()
      val probe = canon.take(driverMaxEdges + 1)
      if (probe.length <= driverMaxEdges) {
        val labels: Seq[(Any, Any)] = keyType match {
          case org.apache.spark.sql.types.LongType =>
            unionFindLabels(probe.map(r => (r.getLong(0), r.getLong(1))))
              .map { case (n, m) => (n: Any, m: Any) }
          case _ =>
            unionFindLabels(probe.map(r => (r.getString(0), r.getString(1))))
              .map { case (n, m) => (n: Any, m: Any) }
        }
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id", keyType),
          org.apache.spark.sql.types.StructField("cluster_id", keyType)))
        import scala.jdk.CollectionConverters._
        val out = pairs.sparkSession.createDataFrame(
          labels.map { case (n, m) => org.apache.spark.sql.Row(n, m) }.asJava,
          schema)
        return (out, 0)
      }
      // past the bound: fall through to the distributed rounds (the probe
      // cost was one partial pass over the canonical-edge aggregation)
    }
    val nodes = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id")))
      .distinct()
    // LAZY pins throughout: isStarForest is the first action on each
    // round's edge set, so the SAME job materializes the pin and answers
    // convergence — one job per contraction round instead of the eager
    // variant's checkpoint job + check job (r13-verdict item 4; the check
    // itself is UNCHANGED — still the exact isStarForest predicate with
    // its V-counterexample argument, just fused into the pin's
    // materializing action)
    var edges = pairs
      .select(least(col("doc_a"), col("doc_b")).as("u"),
        greatest(col("doc_a"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(false)
    var rounds = 0
    var star = isStarForest(edges)
    while (!star && rounds < maxIters) {
      // largeStarRaw: the inter-step dedup is skipped — smallStar's
      // neighborhood minima are duplicate-insensitive and its own
      // trailing distinct restores canonical edges, so the intermediate
      // exchange bought nothing (guide §2.4; the loop edges stay
      // distinct where isStarForest needs them)
      val prev = edges
      edges = smallStar(largeStarRaw(edges)).localCheckpoint(false)
      rounds += 1
      star = isStarForest(edges)
      // the superseded round's edge blocks are dead once the new round is
      // materialized by the check above — free, don't accumulate
      Pins.free(prev)
    }
    if (!star)
      throw new IllegalStateException(
        s"star contraction did not converge in $maxIters rounds (needs " +
          s"~log^2 of the largest component; raise maxIters)")
    // star forest: every canonical edge is (root=component min, child)
    val labels = edges.select(col("v").as("doc_id"), col("u").as("cluster_id"))
      .union(edges.select(col("u").as("doc_id"), col("u").as("cluster_id")))
      .distinct()
    // self-loop-only and duplicate-pair docs carry no edge — label = self
    val out = nodes.join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    (out, rounds)
  }

  /** Large-star: every node attaches its strictly-LARGER neighbors to the
    * minimum of its closed neighborhood. Connectivity-preserving; edges
    * stay canonical (u < v) because m <= center < larger neighbor.
    * No trailing dedup — it is composed directly into
    * [[smallStar]], whose per-neighborhood minima ignore duplicates and
    * whose own trailing distinct re-canonicalizes. Output may carry
    * duplicate edges (bounded by 2|E|), never wrong ones. */
  private def largeStarRaw(edges: DataFrame): DataFrame = {
    val nbrs = edges.select(col("u").as("a"), col("v").as("b"))
      .union(edges.select(col("v").as("a"), col("u").as("b")))
    val mins = nbrs.groupBy("a")
      .agg(min(col("b")).as("nmin"))
      .select(col("a"), least(col("nmin"), col("a")).as("m"))
    nbrs.join(mins, Seq("a"))
      .filter(col("b") > col("a"))
      .select(col("m").as("u"), col("b").as("v"))
      .filter(col("u") =!= col("v"))
  }

  /** Small-star: every node attaches its SMALLER neighbors (and itself) to
    * the minimum among them, flattening chains into stars. */
  private def smallStar(edges: DataFrame): DataFrame = {
    // direct larger -> smaller, so the center a sees only smaller neighbors
    val nbrs = edges.select(col("v").as("a"), col("u").as("b"))
    val mins = nbrs.groupBy("a").agg(min(col("b")).as("m"))
    val rewired = nbrs.join(mins, Seq("a"))
      .filter(col("b") =!= col("m"))
      .select(col("m").as("u"), col("b").as("v"))
    val center = mins.select(col("m").as("u"), col("a").as("v"))
    rewired.union(center).distinct()
  }

  /** Iterative union-find with union-by-min and path compression over a
    * collected canonical edge list (self-loops allowed — they register the
    * node). The root of every tree is its component's MINIMUM member by
    * construction (unions always point the larger root at the smaller), so
    * find(n) IS the min-label — exactly the distributed contraction's
    * output contract. Iterative find: a 2^18-edge chain would overflow a
    * recursive one's stack. */
  private def unionFindLabels[T](edges: Array[(T, T)])
                                (implicit ord: Ordering[T]): Seq[(T, T)] = {
    val parent = scala.collection.mutable.Map.empty[T, T]
    def find(x: T): T = {
      var r = x
      while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
      }
    }
    parent.keys.toSeq.map(n => n -> find(n))
  }

  /** Exact convergence predicate: a canonical, deduplicated edge set is a
    * star forest iff (a) no node appears both as a smaller endpoint (root)
    * and a larger endpoint (child), AND (b) every child has exactly ONE
    * root. (a) alone is satisfied by any bipartite roots/children edge set —
    * a child with two roots (a "V") would pass and split its component into
    * two cluster ids. One grouped pass over the (small) edge list only. */
  private def isStarForest(edges: DataFrame): Boolean = {
    val sides = edges.select(col("u").as("n"), lit(1L).as("r"), lit(0L).as("c"))
      .union(edges.select(col("v").as("n"), lit(0L).as("r"), lit(1L).as("c")))
    sides.groupBy("n")
      .agg(sum(col("r")).as("roots"), sum(col("c")).as("parents"))
      .filter((col("roots") > 0 && col("parents") > 0) || col("parents") > 1)
      .isEmpty
  }
}
