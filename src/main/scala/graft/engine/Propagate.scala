package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Two generic propagation kernels over a functional graph, completing
  * the iterative family beside [[Expand]] (unweighted frontier),
  * [[MinPlus]] (weighted shortest path), [[Components]] (min-label
  * closure) and [[PageRank]] (normalized mass):
  *
  *  - [[sumRoundsFunctional]]: k rounds of synchronous in-flow
  *    accumulation (raster flow accumulation over D8 drainage), built
  *    by path doubling instead of k join+aggregate rounds;
  *
  *  - [[pointerDouble]]: path doubling `p'(v) = p(p(v))` — after k
  *    rounds every node points 2^k steps along its pointer chain, so a
  *    chain of depth D resolves to its terminal (a fixpoint node,
  *    `p(t) = t`) in ceil(log2 D) rounds instead of D. This is the
  *    at-scale shape for follow-the-chain queries (watershed basins,
  *    union-find halving, linked-list ranking): O(log D) shuffles
  *    total, vs one shuffle per hop for naive iteration. Its rounds run
  *    on [[Fixpoint.rounds]], which owns the lineage truncation cadence.
  */
object Propagate {

  /** Synchronous in-flow accumulation on a FUNCTIONAL graph (<= 1
    * out-edge per node — D8 drainage, successor chains): `acc(v)` after
    * `rounds` rounds of `a'(v) = 1 + sum over in-edges (u,v) of a(u)`,
    * built by PATH DOUBLING instead of k synchronous rounds. On a
    * functional graph a length-j path into v exists from u iff u's j-th
    * successor is v, so `acc_k(v) = 1 + sum over j<=k of #{u : s_j(u) =
    * v}`. The successor columns s_1..s_k are assembled in ceil(log2 k)
    * self-joins (each join DOUBLES the known chain prefix: s_{m+i} = s_i
    * o s_m), then ONE explode + ONE partial-aggregated count replaces
    * the k per-round join+aggregate exchanges of the synchronous loop —
    * for k=8 that is 3 joins + 1 aggregation instead of 8 joins + 8
    * aggregations (guide §2.4 "remove shuffles outright"). A chain that
    * reaches a sink before j steps has NULL s_j (left joins) and
    * contributes nothing, exactly like the synchronous rounds.
    *
    * Caller contract: `edges` functional (one dst per src) — q127's D8
    * pick emits exactly one out-edge per non-sink cell by construction.
    * On a non-functional graph the result is not the synchronous
    * accumulation (that counts a node reaching v by several routes once
    * per route).
    */
  def sumRoundsFunctional(s: SparkSession, nodes: DataFrame,
      edges: DataFrame, rounds: Int): DataFrame = {
    // edges pointing outside the node set must not mint output rows:
    // restrict once, up front. es feeds exactly one join, so it needs no
    // materialization.
    val es = edges.join(nodes, edges("dst") === nodes("node"), "left_semi")
    var chain = nodes.join(es, nodes("node") === es("src"), "left")
      .select(col("node"), col("dst").as("s1"))
    var m = 1
    while (m < rounds) {
      val take = math.min(m, rounds - m)
      // truncate before a doubling join: it references chain on BOTH
      // sides, and an un-materialized self-reference re-evaluates the
      // whole prefix tree once per side per level
      chain = Checkpoint.truncate(s, chain)
      val right = chain.select(col("node").as("__j") +:
        (1 to take).map(i => col(s"s$i").as(s"s${m + i}")): _*)
      chain = chain.join(right, col(s"s$m") === col("__j"), "left")
        .drop("__j")
      m += take
    }
    val contrib = chain
      .select(explode(array((1 to rounds).map(i => col(s"s$i")): _*))
        .as("node"))
      .filter(col("node").isNotNull)
      .select(col("node"), lit(1L).as("acc"))
    nodes.select(col("node"), lit(1L).as("acc"))
      .unionByName(contrib)
      .groupBy("node").agg(sum("acc").as("acc"))
  }

  /** @param ptr0 one row per node: `(node: long, p: long)` with
    *             terminals self-pointing (`p = node`)
    * @return `(node, p)` after `rounds` doublings — p is the node
    *         2^rounds steps down the chain (the terminal, once the
    *         chain is exhausted) */
  def pointerDouble(s: SparkSession, ptr0: DataFrame,
                    rounds: Int): DataFrame =
    Fixpoint.rounds(s, ptr0, rounds) { ptr =>
      val hop = ptr.select(col("node").as("p"), col("p").as("pp"))
      ptr.join(hop, Seq("p")).select(col("node"), col("pp").as("p"))
    }
}
