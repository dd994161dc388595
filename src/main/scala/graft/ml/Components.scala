package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Connected components over an arbitrary undirected edge list — the shared
 * engine behind raster vectorization (4-neighbor grid graphs,
 * [[graft.query.Raster.vectorize]]) and near-duplicate clustering
 * (LSH/minhash candidate-pair graphs, [[Dedup.dupClusters]]).
 *
 * Three paths, chosen by graph size and shape:
 *  1. graphs under [[DriverMaxDefault]] rows are union-found ON THE DRIVER
 *     in one collect — per-round Spark jobs cost ~0.3 s even for 200
 *     nodes, while union-find finishes in milliseconds; the ceiling
 *     bounds driver memory regardless of corpus size;
 *  2. larger graphs run min-label propagation with pointer jumping
 *     (one cheap shuffle per round over the node set);
 *  3. graphs whose diameter outruns the round budget fall back to
 *     large-star/small-star contraction (O(log² n) rounds).
 * All three return identical labels (parity-spec'd in DedupSpec).
 *
 * Each round takes the min over neighbor labels, then compresses
 * label -> label-of-label (labels are always member ids, so the self-join
 * is well-defined). Jumping compresses chains quickly, but worst-case
 * rounds can still track the component structure (the min must be
 * DISCOVERED by neighbor hops before pointers can shortcut to it), hence
 * the generous maxIters; each round is a single cheap shuffle over the
 * node set. Graphs that outrun the budget fall back (by default) to
 * [[starComponents]] — large-star/small-star contraction (Kiveris et al.),
 * whose round count is O(log^2 n) regardless of diameter — so no input
 * shape can produce silent mislabels or an unbounded loop.
 *
 * Materialization note — every iterative-DataFrame pitfall at once:
 *  - localCheckpoint flattens the plan but COPIES the parent's sizeInBytes
 *    statistic, so the two joins per round compound it — the BigInt doubles
 *    in bit-length each round and by round ~20 the driver spends minutes in
 *    BigInteger.multiply (measured: 250 s for round 23).
 *  - persist() keeps real stats but keeps the whole child PLAN — the tree
 *    deepens every round and AQE burns the driver in generateTreeString
 *    for listener events.
 * materializeRound crosses the RDD boundary instead: a flat LogicalRDD
 * (constant-size plan) with constant default stats, persisted so the next
 * round reads memory, lineage truncated each round.
 */
object Components {

  /**
   * nodes: one long column `id` (every node, including isolated ones);
   * edges: (id1, id2), either orientation, symmetrized internally.
   * Output: (id, comp) where comp = the component's minimum node id.
   *
   * If labels are still changing after `maxIters` rounds, the call falls
   * back to [[starComponents]] (default) or throws IllegalStateException
   * (`starFallback = false`) — unconverged labels are never returned. The
   * returned DataFrame is backed by ONE persisted RDD; call
   * [[releaseResults]] once results are materialized to free it (all other
   * intermediate persistence is released before returning).
   */
  /** RDD-boundary materialization (see scaladoc above): flat plan, constant
   *  stats, truncated lineage, explicit persistence handle. */
  private def persisted(df: DataFrame): (DataFrame, org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]) = {
    val spark = df.sparkSession
    val rdd = df.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    rdd.count()
    (spark.createDataFrame(rdd, df.schema), rdd)
  }

  /** Driver fast-path ceiling: nodes + symmetrized-edge rows. Everything
   *  that reaches the driver is a PRIMITIVE array (ids, a sorted index
   *  copy, a flat u,v edge array, int parent/long comp arrays — collected
   *  via RDD maps to primitives, so no Array[Row] or boxed HashMap is ever
   *  materialized driver-side): at the 2M ceiling that is ≤ ~80 MB of flat
   *  arrays, and the stated bound IS the actual peak driver allocation.
   *  Above it (large banding graphs, big raster grids) the distributed
   *  loop runs; below it, label propagation's per-round job overhead
   *  (~0.3 s × 4–6 rounds even for a 200-node graph) dwarfs a union-find
   *  that finishes in milliseconds. Override per session with
   *  `spark.graft.components.driverMax` (tests set 0 to force the
   *  distributed path). */
  val DriverMaxDefault = 2000000L

  def minLabel(nodes: DataFrame, edges: DataFrame, maxIters: Int = 256,
               starFallback: Boolean = true): DataFrame = {
    // ids/sym were localCheckpoint(eager) before, but localCheckpoint's
    // internal RDD exposes no handle to unpersist — materialize through the
    // same RDD boundary so the loop inputs can be released after the loop
    val (ids, idsRdd) = persisted(nodes.select(col("id")))
    val (sym, symRdd) = persisted(edges.select(col("id1"), col("id2"))
      .unionByName(edges.select(col("id2").as("id1"), col("id1").as("id2"))))

    // bounded hybrid: a graph that fits comfortably on the driver is
    // union-found there in one pass — identical output (comp = component
    // min, unknown-endpoint edges ignored, parity-spec'd in DedupSpec)
    val driverMax = nodes.sparkSession.conf
      .getOption("spark.graft.components.driverMax").map(_.toLong)
      .getOrElse(DriverMaxDefault)
    if (ids.schema("id").dataType == org.apache.spark.sql.types.LongType &&
        idsRdd.count() + symRdd.count() <= driverMax) {
      // collect as primitives through RDD maps: the driver receives flat
      // Array[Long]s, never an Array[Row] of boxed objects (the transient
      // boxing that used to triple the DriverMaxDefault sizing estimate)
      val out = driverComponents(nodes.sparkSession,
        idsRdd.map(_.getLong(0)).collect(),
        symRdd.flatMap(r => Iterator(r.getLong(0), r.getLong(1))).collect())
      idsRdd.unpersist(blocking = false)
      symRdd.unpersist(blocking = false)
      return out
    }
    // RDD-backed frames carry default (huge) stats, so Catalyst would
    // sort-merge every per-round join even when the label table is tiny —
    // at sf-oracle sizes that is ~0.5 s of shuffle scheduling per round
    // for a 200-node graph (measured; 4 rounds = 2.3 s). The node count is
    // already known exactly from the materialization pass: below the
    // threshold, hint the label-sized side broadcast (labels, the
    // neighbor-min table and the parent map all have <= one row per node).
    val smallGraph = idsRdd.count() <= 200000
    def maybeBroadcast(df: DataFrame): DataFrame =
      if (smallGraph) broadcast(df) else df

    var roundRdds = List.empty[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]
    def materializeRound(df: DataFrame): DataFrame = {
      val (out, rdd) = persisted(df)
      roundRdds = rdd :: roundRdds
      out
    }
    var labels = materializeRound(ids.select(col("id"), col("id").as("label")))
    var changedCount = 1L
    var iter = 0
    while (changedCount > 0 && iter < maxIters) {
      val viaNeighbor = sym
        .join(maybeBroadcast(labels.withColumnRenamed("id", "id2")
          .withColumnRenamed("label", "nlabel")), Seq("id2"))
        .groupBy(col("id1").as("id")).agg(min(col("nlabel")).as("nmin"))
      // neighbor-min step + pointer jump in ONE materialization: the jump
      // compresses through the PREVIOUS round's (materialized) labels —
      // slightly weaker than jumping through the freshly-stepped labels
      // (those would need their own materialization for the self-join, a
      // second job per round), and banding/grid graphs converge in the
      // same number of rounds (measured). The parent map joins a
      // DISTINCTLY-named copy (a same-name self-join resolves ambiguously
      // — both "label" attributes share lineage).
      val parents = labels.select(col("id").as("pid"), col("label").as("plabel"))
      val nextPlan = labels.join(maybeBroadcast(viaNeighbor), Seq("id"), "left_outer")
        .select(col("id"), col("label").as("old"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("m"))
        .join(maybeBroadcast(parents), col("m") === col("pid"), "left_outer")
        .select(col("id"),
          least(col("m"), coalesce(col("plabel"), col("m"))).as("label"),
          (least(col("m"), coalesce(col("plabel"), col("m"))) =!= col("old")).as("changed"))
      // materialize and count changed labels in the SAME pass: the filter
      // count computes (and caches) every parent partition, so this is one
      // job per round instead of a materialize job plus a count job
      val nextRdd = nextPlan.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      changedCount = nextRdd.filter(_.getBoolean(2)).count()
      roundRdds = nextRdd :: roundRdds
      labels = nextPlan.sparkSession.createDataFrame(nextRdd, nextPlan.schema)
        .select(col("id"), col("label"))
      // free everything except the RDD labels now depends on
      val keep = roundRdds.head
      roundRdds.tail.foreach(_.unpersist(blocking = false))
      roundRdds = List(keep)
      iter += 1
    }
    // loop inputs are no longer needed; rounds were already pruned to the
    // final one, which BACKS the returned DataFrame and stays persisted
    idsRdd.unpersist(blocking = false)
    symRdd.unpersist(blocking = false)
    // silently returning unconverged labels would mislabel components; a
    // graph that outruns maxIters rounds either falls back to the
    // O(log^2 n)-round star-contraction algorithm or fails loudly
    if (changedCount > 0) {
      roundRdds.foreach(_.unpersist(blocking = false))
      if (starFallback) return starComponents(nodes, edges)
      throw new IllegalStateException(
        s"connected components did not converge after $maxIters rounds " +
          s"($changedCount labels still changing) — raise maxIters or use " +
          "starComponents for high-diameter graphs")
    }
    roundRdds.foreach { r => finalRdds.add(r); () }
    labels.select(col("id"), col("label").as("comp"))
  }

  /** Union-find with path compression over collected (id, edge) arrays —
   *  the driver half of the bounded hybrid. Matches the distributed loop's
   *  semantics exactly: comp = the component's minimum node id, and edges
   *  touching ids absent from `nodes` are ignored (the distributed join
   *  drops them the same way). */
  private def driverComponents(spark: org.apache.spark.sql.SparkSession,
                               idArr: Array[Long],
                               flatEdges: Array[Long]): DataFrame = {
    // id -> dense index via a sorted copy + binary search: two primitive
    // arrays instead of a HashMap<Long,Integer> of boxed entries, so the
    // driver's peak allocation really is the flat arrays the ceiling sizes.
    val sortedIds = idArr.clone()
    java.util.Arrays.sort(sortedIds)
    val sortedToOrig = new Array[Int](idArr.length)
    var i = 0
    while (i < idArr.length) {
      sortedToOrig(java.util.Arrays.binarySearch(sortedIds, idArr(i))) = i
      i += 1
    }
    def lookup(id: Long): Int = {
      val p = java.util.Arrays.binarySearch(sortedIds, id)
      if (p >= 0) sortedToOrig(p) else -1
    }
    val parent = Array.tabulate(idArr.length)(identity)
    def find(x0: Int): Int = {
      var r = x0
      while (parent(r) != r) r = parent(r)
      var c = x0
      while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    var e = 0
    while (e < flatEdges.length) {
      val iu = lookup(flatEdges(e)); val iv = lookup(flatEdges(e + 1))
      if (iu >= 0 && iv >= 0) {
        val ru = find(iu); val rv = find(iv)
        if (ru != rv) parent(rv) = ru
      }
      e += 2
    }
    val compMin = new Array[Long](idArr.length)
    java.util.Arrays.fill(compMin, Long.MaxValue)
    i = 0
    while (i < idArr.length) {
      val r = find(i)
      if (idArr(i) < compMin(r)) compMin(r) = idArr(i)
      i += 1
    }
    val rows = new Array[org.apache.spark.sql.Row](idArr.length)
    i = 0
    while (i < idArr.length) {
      rows(i) = org.apache.spark.sql.Row(idArr(i), compMin(find(i)))
      i += 1
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("comp",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val parts = math.max(1, math.min(spark.sparkContext.defaultParallelism,
      idArr.length / 10000 + 1))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, parts), schema)
  }

  private def symmetrize(e: DataFrame): DataFrame =
    e.select(col("u"), col("v"))
      .unionByName(e.select(col("v").as("u"), col("u").as("v")))

  /** Per-node minimum over the closed neighborhood: (u, m = min(N(u) ∪ u)). */
  private def closedMins(sym: DataFrame): DataFrame =
    sym.groupBy(col("u")).agg(min(col("v")).as("mv"))
      .select(col("u"), least(col("mv"), col("u")).as("m"))

  /** large-star: every neighbor v > u connects to min(N(u) ∪ {u}). */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = symmetrize(e)
    sym.join(closedMins(sym), Seq("u"))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** small-star: u and every neighbor v <= u connect to min(N(u) ∪ {u}). */
  private def smallStar(e: DataFrame): DataFrame = {
    val sym = symmetrize(e)
    val mins = closedMins(sym)
    sym.join(mins, Seq("u"))
      .filter(col("v") <= col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .unionByName(mins.select(col("u"), col("m").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /**
   * Connected components by alternating large-star / small-star contraction
   * (Kiveris et al., "Connected Components in MapReduce and Beyond") — the
   * high-diameter path: rounds are O(log^2 n) REGARDLESS of component
   * diameter (a planetary-length snake region converges in a few dozen
   * rounds where neighbor propagation needs one round per hop). Each round
   * is two groupBy-min + join passes over the edge set; at convergence the
   * edges form a star forest centered at each component's minimum node.
   *
   * Same contract as [[minLabel]]: (id, comp), comp = component min; the
   * result is backed by one persisted RDD released via [[releaseResults]].
   */
  def starComponents(nodes: DataFrame, edges: DataFrame, maxIters: Int = 64): DataFrame = {
    val (ids, idsRdd) = persisted(nodes.select(col("id")))
    var (e, eRdd) = persisted(edges.select(col("id1").as("u"), col("id2").as("v"))
      .filter(col("u") =!= col("v")).distinct())
    var prevRdd = eRdd
    var stable = e.isEmpty
    var rounds = 0
    while (!stable && rounds < maxIters) {
      val (l, lRdd) = persisted(largeStar(e))
      val (s, sRdd) = persisted(smallStar(l))
      // converged when a full large+small pass leaves the edge set fixed
      stable = s.exceptAll(e).isEmpty && e.exceptAll(s).isEmpty
      prevRdd.unpersist(blocking = false)
      lRdd.unpersist(blocking = false)
      e = s
      prevRdd = sRdd
      rounds += 1
    }
    if (!stable) {
      idsRdd.unpersist(blocking = false)
      prevRdd.unpersist(blocking = false)
      throw new IllegalStateException(
        s"star contraction did not converge after $maxIters rounds " +
          "(O(log^2 n) expected — this indicates a bug or an absurd graph)")
    }
    // at convergence e is (leaf, center) with center = component min
    val centers = e.groupBy(col("u")).agg(min(col("v")).as("comp"))
      .withColumnRenamed("u", "id")
    val (labels, labelsRdd) = persisted(
      ids.join(centers, Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("comp"), col("id")).as("comp")))
    idsRdd.unpersist(blocking = false)
    prevRdd.unpersist(blocking = false)
    finalRdds.add(labelsRdd)
    labels
  }

  // Ownership of the one persisted RDD that backs each returned labels
  // DataFrame: unpersisting it before the caller consumes the result would
  // force a full re-iteration, so the library keeps a registry and lets the
  // caller (or a session-level sweep, e.g. between bench queries) release
  // them once results are materialized.
  private val finalRdds =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row], java.lang.Boolean]())

  /** Unpersist every label RDD still held from completed [[minLabel]] calls.
   *  Safe to call once their results have been written/collected; a later
   *  action on a stale result recomputes instead of erroring. */
  def releaseResults(): Unit = {
    val it = finalRdds.iterator()
    while (it.hasNext) { it.next().unpersist(blocking = false); it.remove() }
  }
}
