package graft.engine

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Connected components by iterative min-label propagation — the
  * CLUSTER stage of a dedup pipeline (q56 keeper selection over
  * verified text pairs, q78 over image phash pairs), extracted so every
  * dedup family shares one convergence-checked implementation.
  *
  * Scale shape (unchanged from its q56 origin): iterate ONLY over
  * edge-incident nodes — in a dedup corpus the overwhelming majority of
  * rows have no near-duplicate, and an isolated node's label never
  * changes; at 10^12 rows with ~10^9 duplicate pairs the iterated frame
  * is ~1000x smaller than the corpus (callers re-attach isolated rows
  * with a left join + coalesce). Each round every node adopts the
  * smallest label among itself and its neighbors; converges in
  * component-diameter rounds; edges shuffle on the endpoint key; no
  * driver-side graph.
  *
  * The label type is generic over any orderable column type (long doc
  * ids, string image ids): propagation uses `least`, the convergence
  * accumulator compares via `Comparable`, and both Spark and DuckDB
  * order ASCII strings identically (binary collation), so string-id
  * oracles stay exact.
  */
object Components {

  /** Min-label propagation over an undirected pair frame (two columns,
    * each row one edge). Returns (node_id, lbl) for every EDGE-INCIDENT
    * node. `name` labels the loud convergence log line. */
  def minLabel(s: SparkSession, pairs: DataFrame, name: String): DataFrame = {
    require(pairs.columns.length == 2,
      s"$name: minLabel expects a two-column edge frame, got " +
        pairs.columns.mkString("(", ", ", ")"))
    val Seq(ca, cb) = pairs.columns.toSeq
    // Fan out each undirected pair to both directed edges with ONE
    // inline explode, not `pairs UNION swap(pairs)`: the union shape
    // evaluates the caller's pair pipeline TWICE (two branches of one
    // plan, and candidate-pair generation is the expensive stage of a
    // dedup run); the explode reads it once for the same rows.
    val edges = Checkpoint.truncate(s,
      pairs.select(explode(array(
          struct(col(ca).as("src"), col(cb).as("dst")),
          struct(col(cb).cast(pairs.schema(ca).dataType).as("src"),
            col(ca).cast(pairs.schema(cb).dataType).as("dst")))).as("e"))
        .select(col("e.src"), col("e.dst")))

    // the iterated frame is ~1000x smaller than the corpus, so its
    // shuffles should be narrower than the corpus-sized default: size
    // the loop's shuffle width by the edge count (one task per ~100k
    // edges, floor 8) and restore the session default afterwards
    val nEdges = edges.count()
    val defaultParts = s.conf.get("spark.sql.shuffle.partitions")
    // scale-adaptive width: ~100k edges per task, no fixed floor — below
    // ~100k edges ONE task union-finds the whole graph in the seeding
    // pass (the loop then just verifies the fixpoint in one block),
    // which beats an 8-way slice-stitching loop by several driver-sync
    // rounds; at cluster scale the same formula widens with the graph
    val loopParts = math.max(1L, math.min(defaultParts.toLong,
      nEdges / 100000L)).toString
    // SEED with a per-partition union-find over RANGE-partitioned edges
    // instead of the identity map: each task collapses every component
    // that lives inside its edge slice to its minimum in one in-memory
    // pass (the ClumpLocal economics applied to the loop's own input),
    // so the synchronous rounds only have to stitch across slice
    // boundaries. Range partitioning by src matters for the grid-shaped
    // callers (q119/q140/q166): labels are cell ids, so nearby fragments
    // share a slice and whole patches collapse locally (measured: q140
    // 10 rounds -> 2, q119 8 -> 2). Correctness is initialization-
    // agnostic: seeded labels are mins over a SUBSET of each node's
    // component (lbl(v) stays in v's component and >= the component
    // min), propagation is monotone, and the fixpoint (= per-edge label
    // equality) is the unique component-min labeling, so any valid seed
    // converges to the identical result — ComponentsSpec pins seeded
    // output against the identity-seeded fixpoint. Task memory is
    // O(nodes per slice), bounded by the same nEdges/100k sizing that
    // picks loopParts (the 100-TB argument: the edge frame is already
    // the ~0.1% derived graph, and a 100k-edge hash map is ~MBs).
    val dt = edges.schema("src").dataType
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node_id", dt),
      org.apache.spark.sql.types.StructField("lbl", dt)))
    val seeded = edges.repartitionByRange(loopParts.toInt, col("src"))
      .mapPartitions { it =>
        val parent = new java.util.HashMap[Any, Any]()
        def find(x: Any): Any = {
          var r = x
          while (parent.get(r) != r) r = parent.get(r)
          var c = x
          while (parent.get(c) != r) {
            val n = parent.get(c); parent.put(c, r); c = n
          }
          r
        }
        it.foreach { row =>
          val a = row.get(0); val b = row.get(1)
          if (!parent.containsKey(a)) parent.put(a, a)
          if (!parent.containsKey(b)) parent.put(b, b)
          val ra = find(a); val rb = find(b)
          // union-by-min: the root IS the slice-local component min, so
          // no second min pass is needed; path compression in find
          // keeps chains short
          if (ra != rb) {
            if (ra.asInstanceOf[Comparable[Any]].compareTo(rb) <= 0)
              parent.put(rb, ra)
            else parent.put(ra, rb)
          }
        }
        val out = Seq.newBuilder[org.apache.spark.sql.Row]
        parent.keySet().forEach { n =>
          out += org.apache.spark.sql.Row(n, find(n))
        }
        out.result().iterator
      }(Encoders.row(outSchema))
    var labels = Checkpoint.truncate(s,
      seeded.groupBy("node_id").agg(min("lbl").as("lbl")))
    var changed = 1L
    var rounds = 0
    // With the per-round pointer-jumping shortcut below, convergence is
    // O(log component-diameter) rounds; fail LOUDLY rather than emit
    // silently-wrong clusters if a pathological graph exceeds the cap
    // ("no silent caps")
    val maxRounds = 100
    // Propagation is MONOTONE (labels only decrease), so extra rounds
    // are harmless no-ops — run `syncEvery` propagation rounds per
    // driver synchronization: ONE lineage truncation + ONE count per
    // block instead of per round, halving the per-round action cost.
    // The convergence check compares against the block-entry labels
    // (lbl0): any decrease anywhere in the block keeps iterating.
    val syncEvery = 2
    // SCOPE NOTE (round-4 ADVICE): this narrows the SESSION-wide
    // shuffle width for the loop's duration (restored in finally) —
    // correct under the sweep/driver's sequential execution, but a
    // query submitted CONCURRENTLY on this SparkSession would plan
    // with the narrowed width too. On a shared session, scope the
    // width per-plan instead (df.repartition(loopParts, col(...)) on
    // each loop frame); the session flip is kept here because the
    // loop's joins/aggregates inherit it wholesale, which per-plan
    // repartition cannot reach without rewriting every exchange.
    s.conf.set("spark.sql.shuffle.partitions", loopParts)
    try {
      while (changed > 0 && rounds < maxRounds) {
        var cur = labels.withColumn("lbl0", col("lbl"))
        var i = 0
        while (i < syncEvery) {
          // HOOK: adopt the smallest label among self and neighbors.
          val nbrMin = edges
            .join(cur.select(col("node_id").as("src"), col("lbl")),
              Seq("src"))
            .groupBy(col("dst").as("node_id"))
            .agg(min("lbl").as("nbr_lbl"))
          val hooked = cur.join(nbrMin, Seq("node_id"), "left")
            .select(col("node_id"), col("lbl0"),
              least(col("lbl"), coalesce(col("nbr_lbl"), col("lbl")))
                .as("lbl"))
          // COMPRESS (pointer jumping): lbl <- min(lbl, lbl(lbl)).
          // Every label IS a node id of the same component (it started
          // as some node's own id and only travels along edges), so the
          // lookup join resolves within the labels frame; the left
          // join + coalesce covers the root, whose label is itself.
          // The lookup side is the MATERIALIZED block-entry frame
          // (`labels`), not `hooked` — a self-reference would
          // re-evaluate the hook join once per side; the block-entry
          // labels are up to syncEvery rounds stale, which only weakens
          // the jump (lbl(u) <= u always holds: labels start at self
          // and only decrease), never its validity. Hook alone
          // converges in component-DIAMETER rounds; hook + compress
          // multiplies the reached distance by the block-entry reach
          // every round — O(log d) blocks total (Shiloach-Vishkin-style
          // shortcutting), which at a 10^12-row corpus is the
          // difference between ~40 and ~8 full-frame shuffles. Active
          // from the FIRST block too since the union-find seeding
          // above: block-entry labels are already slice-local component
          // mins (not the identity map), so the jump has reach to
          // multiply immediately. The fixpoint is unchanged: a round
          // with zero decreases means per-edge label equality (hook
          // stable), i.e. labels are constant per component and equal
          // to the component minimum, at which point compress is the
          // identity.
          cur = hooked.join(
            labels.select(col("node_id").as("lbl"), col("lbl").as("lbl2")),
            Seq("lbl"), "left")
            .select(col("node_id"), col("lbl0"),
              least(col("lbl"), coalesce(col("lbl2"), col("lbl")))
                .as("lbl"))
          i += 1
        }
        rounds += syncEvery
        // loop iterates use localCheckpoint DELIBERATELY (not reliable
        // Checkpoint.truncate): Spark never deletes non-streaming
        // reliable checkpoint files until app exit (cleanCheckpoints
        // defaults false), so a reliable snapshot per block would grow
        // the checkpoint dir without bound across the loop. Losing an
        // executor instead recomputes a SMALL frame (edge-incident
        // labels) from the reliably-checkpointed edges — a bounded,
        // cheap recovery. Convergence is counted during that job
        // (Fixpoint.counted); generic over the id type: boxed Long and
        // String both implement Comparable.
        val (next, n) = Fixpoint.counted(s, cur.select("node_id", "lbl0",
            "lbl"), s"${name}_changed")(_.localCheckpoint(true)) { r =>
          r.get(2).asInstanceOf[Comparable[Any]].compareTo(r.get(1)) < 0
        }
        changed = n
        labels = next.drop("lbl0")
      }
    } finally s.conf.set("spark.sql.shuffle.partitions", defaultParts)
    if (changed > 0) {
      // the accumulator can only OVER-count (task retries/speculation),
      // which mid-loop just runs an extra monotone no-op block — but at
      // the rounds cap it could abort a converged result, so confirm
      // with one exact retry-immune recount before failing loudly
      val nbrMin = edges
        .join(labels.select(col("node_id").as("src"), col("lbl")), Seq("src"))
        .groupBy(col("dst").as("node_id")).agg(min("lbl").as("nbr_lbl"))
      changed = labels.join(nbrMin, Seq("node_id"), "left")
        .filter(coalesce(col("nbr_lbl"), col("lbl")) < col("lbl")).count()
    }
    require(changed == 0,
      s"$name: component labels did not converge within $maxRounds rounds")
    // loud round accounting (stderr, same channel as Spark's own logs)
    Console.err.println(
      s"$name: converged after $rounds propagation " +
        s"rounds (${rounds / syncEvery} driver syncs)")
    labels
  }
}
