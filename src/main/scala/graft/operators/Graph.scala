package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph primitives for the dedup pipeline.
  *
  * Near-dup detection emits PAIRS (minhash band collisions, winnowing
  * fingerprint matches, within-cluster cosine hits); keep-one dedup needs
  * GROUPS. The stage between them is connected components over the pair
  * graph: every document in a component is transitively a near-duplicate
  * of every other, and the canonical representative is the component's
  * minimum id. The reference has no analog (its corpus fits one process);
  * at 100 TB this is the standard MapReduce-CC problem.
  *
  * Algorithm: alternating min-neighbor propagation and pointer jumping
  * (label doubling) — the public "Hash-to-Min"-family scheme (Rastogi et
  * al., "Finding Connected Components in Map-Reduce in Logarithmic
  * Rounds"; same family as Kiveris et al.'s large-star/small-star).
  * Neighbor-min alone needs O(diameter) rounds (a duplicate CHAIN, the
  * worst case, makes that O(n)); the pointer-jump after each propagation
  * halves remaining label paths, so convergence is O(log n) rounds for
  * any component shape.
  *
  * Round accounting: labels start at the least id of each vertex's
  * closed neighbourhood (one aggregate over the symmetric edges) — the
  * first neighbour-min folded into the init. Every call ends with one
  * round that changes nothing (the convergence proof), so a star around
  * its smallest id, the usual duplicate cluster, now finishes in that
  * single round; from `label = id` it took two.
  *
  * Scale shape per round: two joins keyed by 8-byte vertex ids over
  * frames of (long, long) rows — the shuffle carries ids only, never
  * payloads — plus one count for the convergence check. Each round's
  * label frame is `localCheckpoint`ed: iterative plans otherwise grow
  * lineage linearly and re-execute every prior round per action (the
  * in-query analog of persisting each round's labels as a pipeline
  * stage). Labels are always vertex ids and only ever decrease, so the
  * fixpoint is deterministic regardless of partitioning or round count.
  */
object Graph {

  /** Connected components of the undirected graph whose edges are
    * `(srcCol, dstCol)` rows: one output row `(id, component_id)` per
    * DISTINCT vertex appearing in any edge, where `component_id` is the
    * minimum vertex id reachable from `id`. Isolated vertices never
    * appear in the edge list and are their own trivial components —
    * callers wanting them keep `anti_join`-ing the vertex table.
    *
    * `maxRounds` is a safety bound, not a tuning knob: pointer jumping
    * converges in O(log n) rounds (25 covers any graph that fits in 2⁶³
    * ids ~ 2 rounds of slack over log₂); hitting the bound without
    * convergence raises rather than returning partial labels. */
  def connectedComponents(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxRounds: Int = 25): DataFrame = {
    val e = edges.select(
      col(srcCol).cast("long").as("u"),
      col(dstCol).cast("long").as("v"))
    // symmetrize once; dedup so multi-edges don't inflate the joins
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      .distinct()
      .localCheckpoint()

    // round one's neighbour-min folded into the init: from `label = id`
    // it would give every vertex the least id of its closed
    // neighbourhood, which one aggregate over `sym` computes directly
    var labels = sym.groupBy(col("u").as("id"))
      .agg(min("v").as("__mn"))
      .select(col("id"), least(col("id"), col("__mn")).as("label"))
      .localCheckpoint()

    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      // neighbor-min: best label seen across the vertex's neighborhood
      val nbrLabel = sym
        .join(labels.select(col("id").as("v"), col("label").as("nl")), "v")
        .groupBy(col("u").as("id"))
        .agg(min("nl").as("mn"))
      // carry the pre-round label through the round so the convergence
      // check is a FILTER on the checkpointed frame (labels only ever
      // decrease, so converged ⟺ no row changed) — a join back against
      // the previous labels would add a shuffle per round
      val propagated = labels
        .join(nbrLabel, Seq("id"), "left")
        .select(col("id"), col("label").as("__old"),
          least(col("label"), coalesce(col("mn"), col("label"))).as("label"))
      // pointer jump: label ← label(label). Every label value is itself
      // a vertex id of the same component (init = least id of the closed
      // neighbourhood; min over vertex ids stays a vertex id), so the
      // self-join is total and the inner join loses nothing.
      val next = propagated
        .join(propagated.select(col("id").as("label"), col("label").as("l2")),
          "label")
        .select(col("id"), col("__old"), col("l2").as("label"))
        .localCheckpoint()
      converged = next.filter(col("label") =!= col("__old")).isEmpty
      labels = next.select("id", "label")
      round += 1
    }
    require(converged,
      s"connectedComponents did not converge in $maxRounds rounds")
    labels.select(col("id"), col("label").as("component_id"))
  }

  /** Components annotated with their size — the dedup decision input
    * (`csize = 1` ⇒ unique; keeper = `id == component_id`). */
  def componentSizes(components: DataFrame): DataFrame = {
    val sizes = components.groupBy("component_id")
      .agg(count(lit(1)).as("csize"))
    components.join(sizes, "component_id")
      .select(col("id"), col("component_id"), col("csize"))
  }
}
