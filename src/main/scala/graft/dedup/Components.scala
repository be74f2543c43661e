package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.DriverFold

/** Duplicate-cluster resolution: candidate pairs → connected
  * components → keeper per document (SURVEY §2.3).
  *
  * Min-label propagation with pointer jumping: every doc starts
  * labeled with itself; each round a node adopts the minimum of its
  * own label, its neighbors' labels, AND its label's label
  * (`L(L(v))` — the pointer-doubling step). Neighbor propagation
  * alone moves a label one hop per round (linear in cluster
  * diameter — a length-50 boilerplate chain needs 50 rounds);
  * pointer jumping halves the remaining distance each round, so
  * convergence is logarithmic in the diameter. Labels only ever
  * decrease and are always member ids, so the fixpoint label of
  * every node is its component minimum.
  *
  * Each round is a bounded number of shuffles keyed on doc id; only
  * the convergence scalar (a sum) returns to the driver. Hitting
  * `maxRounds` without convergence throws — a silently truncated
  * clustering would let duplicates survive downstream `Dedup.clean`.
  */
object Components {

  /** pairs: (id_a, id_b) edges. Returns (id, keeper) for every id that
    * appears in any pair, keeper = min id of its component.
    *
    * HYBRID (the r14/r15 q_scc diet, generalized): the BSP rounds are
    * tiny-frame, PLAN-DEPTH-bound jobs at fixture scale — each round
    * costs two joins + a rollup + a checkpoint + a convergence action
    * over a few hundred rows, so stage setup dominates by 100×. When
    * the verified pair set fits the [[graft.util.DriverFold]] bound,
    * collect it ONCE and label with in-JVM min-root union-find:
    * identical fixpoint (every union hangs the larger root under the
    * smaller, so find(x) is the component MINIMUM — exactly the BSP
    * label). The BSP fixpoint below remains the at-scale path for pair
    * sets above the bound; the spec forces it through DriverFold's
    * conf key and pins equality with this finisher. */
  def keepers(pairs: DataFrame, maxRounds: Int = 25): DataFrame = {
    val s = pairs.sparkSession
    DriverFold.longPairs(pairs, "id_a", "id_b") match {
      case Some(es) =>
        return s.createDataFrame(localKeepers(es).toSeq).toDF("id", "keeper")
      case None => ()
    }
    // BSP fallback: cache the narrow projection so the undirected
    // union below (which references it twice) and the probe's partial
    // evaluation don't each re-run the (often expensive LSH-verify)
    // upstream plan (r16 ADVICE). Unpersisted once edges materialize.
    val proj = pairs.select(col("id_a"), col("id_b")).cache()
    // undirected edge list, both directions
    val edges = proj.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(proj.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()
      .cache()
    // seed with min(id, min neighbor) — the first propagation round for
    // the price of one aggregation instead of a full join round
    var labels = edges.groupBy(col("src"))
      .agg(min(col("dst")).as("_nmin"))
      .select(col("src").as("id"),
        least(col("src"), col("_nmin")).as("keeper"))
      .cache()
    // labels only ever decrease, so the keeper-sum is strictly monotone:
    // an unchanged sum == a fixpoint. That makes the convergence check a
    // single aggregate on the already-cached frame instead of a join.
    // DECIMAL(38,0) keeps the sum exact for 64-bit snowflake-style ids
    // at any realistic corpus size (a Long sum would wrap and make the
    // fixpoint equality unsound). sum() over an empty frame is NULL —
    // coalesce handles the no-candidate-pairs case (clean corpus).
    def keeperSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("keeper").cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO))).head().getDecimal(0)
    var prevSum = keeperSum(labels)
    // the seed action above materialized both caches — the probe
    // projection has served its purpose
    proj.unpersist(blocking = false)
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      // min of neighbors' labels
      val viaNeighbor = edges
        .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .select(col("src").as("id"), col("keeper"))
      // pointer jump: my label's label
      val viaJump = labels
        .join(labels.select(col("id").as("_jid"), col("keeper").as("_jk")),
          col("keeper") === col("_jid"))
        .select(col("id"), col("_jk").as("keeper"))
      // localCheckpoint truncates the lineage: the label frame appears
      // three times per round (union + both joins), so the logical plan
      // would otherwise grow ~4x per round — exponential in rounds
      val next = labels.union(viaNeighbor).union(viaJump)
        .groupBy(col("id"))
        .agg(min(col("keeper")).as("keeper"))
        .localCheckpoint()
      val nextSum = keeperSum(next)
      labels.unpersist()
      labels = next
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      round += 1
    }
    // labels is an eager checkpoint: the edge cache has served its purpose
    edges.unpersist(blocking = false)
    if (!converged)
      throw new IllegalStateException(
        s"Components.keepers did not converge within $maxRounds rounds — " +
          "raise maxRounds (cluster diameter exceeds 2^rounds)")
    labels
  }

  /** In-JVM min-root union-find over a collected pair set: the
    * driver-fold finisher for [[keepers]]. Union always hangs the
    * LARGER root under the SMALLER, so every root is its component's
    * minimum id — the same fixpoint min-label propagation reaches. */
  private[graft] def localKeepers(
      es: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    es.foreach { case (a, b) =>
      parent.putIfAbsent(a, a)
      parent.putIfAbsent(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent.put(rb, ra)
      else if (rb < ra) parent.put(ra, rb)
    }
    val out = new Array[(Long, Long)](parent.size)
    var i = 0
    val it = parent.keySet().iterator()
    while (it.hasNext) { val k = it.next(); out(i) = (k, find(k)); i += 1 }
    out
  }

  /** INCREMENTAL component maintenance: fold a batch's verified edges
    * into an existing (id, keeper) labeling without re-clustering the
    * corpus.
    *
    * Every old cluster is contracted to its keeper (labels are member
    * ids, and the keeper is the component MINIMUM, so the contracted
    * node inherits exactly the value a full re-cluster would
    * propagate); batch-edge endpoints map to their representative —
    * their old keeper if clustered, themselves otherwise — and
    * [[keepers]] runs on the contracted graph, whose size is bounded
    * by |batch edges| + batch-touched clusters, never the corpus.
    * Old labels then relabel through the contracted result (one
    * broadcast-size join — only touched keepers appear in it), and
    * newly-clustered ids (batch docs, previously-unclustered old docs
    * pulled in by a batch edge) union in directly.
    *
    * Equivalence to the full rebuild: components are
    * order-independent, so components(old edges ∪ batch edges) =
    * components(contract(old) ∪ mapped batch edges) expanded back —
    * provided the batch edge set contains every true pair touching
    * the batch (the LSH recall contract the caller already relies on
    * for the full clustering). At 100 TB this is the difference
    * between a |batch|-bounded fold per ingest and a corpus-wide
    * re-cluster. */
  def incrementalKeepers(oldLabels: DataFrame, batchEdges: DataFrame,
      maxRounds: Int = 25): DataFrame = {
    val la = oldLabels.select(col("id").as("id_a"), col("keeper").as("_ka"))
    val lb = oldLabels.select(col("id").as("id_b"), col("keeper").as("_kb"))
    val contracted = batchEdges
      .join(la, Seq("id_a"), "left")
      .join(lb, Seq("id_b"), "left")
      .select(coalesce(col("_ka"), col("id_a")).as("_ra"),
        coalesce(col("_kb"), col("id_b")).as("_rb"))
      .filter(col("_ra") =!= col("_rb"))
      .select(least(col("_ra"), col("_rb")).as("id_a"),
        greatest(col("_ra"), col("_rb")).as("id_b"))
      .distinct()
      .cache()
    if (contracted.isEmpty) { contracted.unpersist(); return oldLabels }
    // keepers returns a driver-local frame or an eager checkpoint, so
    // the contracted cache is free once it returns
    val folded = keepers(contracted, maxRounds)
    contracted.unpersist(blocking = false)
    // relabel old clusters whose keeper merged; untouched keepers pass
    // through (folded holds ONLY touched nodes — broadcast-size)
    val remap = folded
      .select(col("id").as("keeper"), col("keeper").as("_nk"))
    val relabeled = oldLabels.join(remap, Seq("keeper"), "left")
      .select(col("id"), coalesce(col("_nk"), col("keeper")).as("keeper"))
    // ids newly entering a cluster: batch docs and previously-
    // unclustered old docs (they were their own representative)
    val fresh = folded.join(oldLabels.select(col("id")), Seq("id"),
      "left_anti")
    relabeled.unionByName(fresh.select(col("id"), col("keeper")))
  }
}
