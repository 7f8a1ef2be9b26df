package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph analytics over edge relations — the family next to the
  * connected components [[DedupOps.duplicateClusters]] already runs for
  * dup-cluster resolution.
  *
  * PageRank by power iteration, the canonical distributed-graph
  * workload: each iteration is ONE edges⋈ranks equi-join on the source
  * id plus a destination-keyed aggregation — both shuffles partition on
  * node ids, so at 100 TB the edge relation co-partitions once and
  * every iteration reuses that layout (the ranks side is node-sized,
  * orders of magnitude smaller). No driver state beyond the iteration
  * count; the rank vector never leaves the executors.
  *
  * Numeric contract (oracle-replayable like every trained artifact
  * here): per-edge contributions round(r/outdeg, 6) accumulate in
  * DECIMAL, the damped update round((1−d)/N + d·sum, 6) — all
  * in-engine arithmetic on 6dp-rounded doubles.
  */
object GraphOps {

  val DefaultDamping = 0.85
  val DefaultIters = 3

  /** PageRank over an undirected edge list (a, b) — each edge feeds
    * both directions. Returns (node, rank) for every edge endpoint
    * after `iters` damped power iterations from the uniform vector.
    */
  def pagerank(edges: DataFrame, aCol: String, bCol: String,
      damping: Double = DefaultDamping, iters: Int = DefaultIters): DataFrame = {
    val directed = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionAll(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
    val nodes = directed.select(col("src").as("node")).distinct().cache()
    val nDf = nodes.agg(count(lit(1)).cast("double").as("n_nodes"))
    val outdeg = directed.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val g = directed.join(outdeg, Seq("src")).cache()
    // uniform init — round like every later iterate so iteration 1
    // reads the same start vector the oracle derives
    var ranks = nodes.crossJoin(broadcast(nDf))
      .select(col("node"), round(lit(1.0) / col("n_nodes"), 6).as("rank"))
    for (_ <- 1 to iters) {
      val contribs = g
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"),
          round(col("rank") / col("outdeg").cast("double"), 6)
            .cast("decimal(28,12)").as("c"))
        .groupBy("node")
        .agg(sum(col("c")).as("s"))
      ranks = contribs.crossJoin(broadcast(nDf))
        .select(col("node"),
          round(lit(1.0 - damping) / col("n_nodes") +
            lit(damping) * col("s").cast("double"), 6).as("rank"))
    }
    ranks
  }

  /** PageRank over a DIRECTED edge list — edges feed src → dst only.
    *
    * What the undirected form silently avoids, handled explicitly:
    *  - **Dangling nodes** (no out-edges — a sink loses its rank mass
    *    every iteration if ignored): their summed rank is redistributed
    *    uniformly, the standard teleport treatment (Page et al. 1999).
    *    Per iteration that is ONE extra node-sized aggregation reduced
    *    to a 1-row broadcast — never a shuffle of the edges.
    *  - **Source-only nodes** (no in-edges, so absent from the
    *    contribution sums): `nodes LEFT JOIN contribs` keeps them at the
    *    teleport floor instead of dropping them.
    *
    * Same numeric contract as [[pagerank]] (6dp-rounded doubles, DECIMAL
    * accumulation) with the dangling mass also summed in DECIMAL, so the
    * whole chain replays in an oracle. With dangling redistribution the
    * rank vector stays a probability distribution (Σ≈1 up to rounding)
    * — the property the spec pins.
    */
  def pagerankDirected(edges: DataFrame, srcCol: String, dstCol: String,
      damping: Double = DefaultDamping, iters: Int = DefaultIters): DataFrame = {
    val directed = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
    val nodes = directed.select(col("src").as("node"))
      .unionAll(directed.select(col("dst").as("node")))
      .distinct().cache()
    val nDf = nodes.agg(count(lit(1)).cast("double").as("n_nodes"))
    val outdeg = directed.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val g = directed.join(outdeg, Seq("src")).cache()
    val dangling = nodes
      .join(outdeg.select(col("src").as("node")), Seq("node"), "left_anti")
      .cache()
    val zero = lit(0).cast("decimal(28,12)")
    var ranks = nodes.crossJoin(broadcast(nDf))
      .select(col("node"), round(lit(1.0) / col("n_nodes"), 6).as("rank"))
    for (_ <- 1 to iters) {
      val contribs = g
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"),
          round(col("rank") / col("outdeg").cast("double"), 6)
            .cast("decimal(28,12)").as("c"))
        .groupBy("node")
        .agg(sum(col("c")).as("s"))
      val dangMass = dangling.join(ranks, Seq("node"))
        .agg(coalesce(sum(col("rank").cast("decimal(28,12)")), zero).as("dm"))
      ranks = nodes.join(contribs, Seq("node"), "left")
        .crossJoin(broadcast(nDf)).crossJoin(broadcast(dangMass))
        .select(col("node"),
          round(lit(1.0 - damping) / col("n_nodes") +
            lit(damping) * (coalesce(col("s"), zero).cast("double") +
              col("dm").cast("double") / col("n_nodes")), 6).as("rank"))
        // contribs AND the dangling mass both read each iterate: the
        // checkpoint stops the 2-way reference from doubling evaluation
        // per iteration (2^iters). LAZY: it materializes (and
        // truncates lineage) when the final action first computes it,
        // saving one driver job barrier per iteration; both consumers
        // then read the materialized blocks exactly as with the eager
        // form (measured at sf0.1 and ×10, archive/OPTIMIZATION_r17.md)
        .localCheckpoint(false)
    }
    ranks
  }

  /** Personalized PageRank (Page et al. 1999 §6; the seed-restart
    * random walk): identical to [[pagerankDirected]] except ALL
    * teleport mass — the (1−d) restart AND the dangling-node
    * redistribution — returns to the SEED set instead of the uniform
    * distribution. The stationary mass then measures proximity to the
    * seeds: the seed-expansion / contamination-affinity score over a
    * similarity graph (given curated seed docs, PPR ranks the corpus
    * by graph-proximity to curation — the label-propagation
    * alternative that needs no threshold).
    *
    * Same shapes and numeric contract as [[pagerankDirected]]: per
    * iteration one edges⋈ranks join + contribution aggregation
    * (6dp-rounded contributions summed in DECIMAL), a 1-row dangling
    * mass, a 1-row seed count — nothing corpus-sized beyond the
    * co-keyed joins. Seeds outside the graph's node set drop (the node
    * universe is edge endpoints, as in every sibling). Non-seed nodes
    * with no in-edges converge to 0 — they are unreachable from the
    * restart distribution.
    *
    * CONTRACT: at least one seed id must intersect the graph's node
    * universe on a non-empty graph — with zero in-graph seeds the
    * restart distribution does not exist (every rank would be the
    * silent NULL of 0/0), so the op RAISES by name instead. An empty
    * edge set returns an empty frame (there is no graph to rank).
    *
    * Returns (node, is_seed, rank); Σ rank ≈ 1 up to rounding.
    */
  def personalizedPagerank(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, damping: Double = DefaultDamping,
      iters: Int = DefaultIters): DataFrame = {
    // the edge builder can be expensive (the default input is the LSH
    // candidate chain): materialize it ONCE — nodes/outdeg/dangling all
    // derive from this snapshot instead of re-running the chain
    val directed = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct().localCheckpoint(true)
    val seedIds = seeds.select(col(seeds.columns.head).as("node")).distinct()
    val nodes = directed.select(col("src").as("node"))
      .unionAll(directed.select(col("dst").as("node")))
      .distinct()
      .join(seedIds.withColumn("__s", lit(1L)), Seq("node"), "left")
      .select(col("node"), coalesce(col("__s"), lit(0L)).as("is_seed"))
      .cache()
    // the op is already eager (per-iteration localCheckpoint), so the
    // 2-long seed census costs one extra tiny job, not a new shuffle —
    // and turns the silent all-NULL 0/0 result into a named failure
    val census = nodes
      .agg(count(lit(1)).as("nn"), coalesce(sum("is_seed"), lit(0L)).as("ns"))
      .head()
    if (census.getLong(0) > 0 && census.getLong(1) == 0L)
      throw new IllegalArgumentException(
        "personalizedPagerank: no seed id intersects the graph's node " +
          "universe — the seed-restart distribution does not exist")
    val nSeeds = nodes.agg(sum("is_seed").cast("double").as("n_seeds"))
    val outdeg = directed.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val g = directed.join(outdeg, Seq("src")).cache()
    val dangling = nodes.select("node")
      .join(outdeg.select(col("src").as("node")), Seq("node"), "left_anti")
      .cache()
    val zero = lit(0).cast("decimal(28,12)")
    var ranks = nodes.crossJoin(broadcast(nSeeds))
      .select(col("node"),
        round(col("is_seed").cast("double") / col("n_seeds"), 6).as("rank"))
    for (_ <- 1 to iters) {
      val contribs = g
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"),
          round(col("rank") / col("outdeg").cast("double"), 6)
            .cast("decimal(28,12)").as("c"))
        .groupBy("node")
        .agg(sum(col("c")).as("s"))
      val dangMass = dangling.join(ranks, Seq("node"))
        .agg(coalesce(sum(col("rank").cast("decimal(28,12)")), zero).as("dm"))
      ranks = nodes.join(contribs, Seq("node"), "left")
        .crossJoin(broadcast(nSeeds)).crossJoin(broadcast(dangMass))
        .select(col("node"),
          round(col("is_seed").cast("double") *
            (lit(1.0 - damping) / col("n_seeds") +
              lit(damping) * col("dm").cast("double") / col("n_seeds")) +
            lit(damping) * coalesce(col("s"), zero).cast("double"),
            6).as("rank"))
        // each iterate feeds BOTH the next contribution join and the
        // next dangling mass — without the checkpoint the 2-way
        // reference doubles evaluation per iteration (2^iters).
        // LAZY, same rationale as [[pagerankDirected]]'s loop
        .localCheckpoint(false)
    }
    nodes.join(ranks, Seq("node"))
      .select(col("node"), col("is_seed"), col("rank"))
  }

  /** Per-node triangle counts over an undirected edge list — the local
    * clustering signal (dup-graph cliqueness, community density) next
    * to the global structure PageRank reads.
    *
    * Degree-ordered orientation (Cohen 2009; Suri & Vassilvitskii
    * 2011 — the MapReduce triangle-counting shape): every edge orients
    * from its lower-(degree, id) endpoint to the higher, so each
    * triangle is enumerated EXACTLY once from its lowest corner, and —
    * the scale property — the wedge join's fan-out per node is bounded
    * by its ORIENTED out-degree, O(√m) on any graph, instead of the
    * raw degree a hub would contribute. Three shuffles total (degree
    * count, wedge self-join, closing-edge join), all keyed on node
    * ids; nothing corpus-scale crosses unkeyed.
    *
    * Pure integer surface — counts only, no numeric contract needed.
    * Returns (node, n_triangles) for nodes in ≥1 triangle.
    */
  def triangleCounts(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e = edges
      .filter(col(aCol) =!= col(bCol))
      .select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .distinct()
    val deg = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    // orient low-(deg, id) → high; carry the destination's order key so
    // the wedge join can order its two legs without another deg join
    val oriented = e
      .join(deg.select(col("node").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("d").as("db")), Seq("b"))
      .select(
        struct(col("da").as("d"), col("a").as("id")).as("ka"),
        struct(col("db").as("d"), col("b").as("id")).as("kb"))
      .select(
        when(col("ka") < col("kb"), col("ka.id")).otherwise(col("kb.id"))
          .as("u"),
        when(col("ka") < col("kb"), col("kb")).otherwise(col("ka")).as("vk"))
      .select(col("u"), col("vk"), col("vk.id").as("v"))
      .cache()
    val w1 = oriented.select(col("u"), col("vk").as("k1"), col("v").as("x"))
    val w2 = oriented.select(col("u"), col("vk").as("k2"), col("v").as("y"))
    val tri = w1.join(w2, Seq("u"))
      .filter(col("k1") < col("k2"))
      .join(oriented.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"))
      .select(col("u"), col("x"), col("y"))
    tri
      .select(explode(array(col("u"), col("x"), col("y"))).as("node"))
      .groupBy("node")
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Community detection by SYNCHRONOUS label propagation (Raghavan et
    * al. 2007, made deterministic): labels start as node ids; each
    * round every node adopts its neighbors' most frequent label —
    * count DESC, label ASC on ties — all nodes updating from the
    * PREVIOUS round's labels (the asynchronous original is
    * order-dependent and unreproducible; the synchronous form is a
    * fixed dataflow, so the oracle replays it round for round).
    *
    * Per round: ONE edges⋈labels join on the destination + a
    * (node, label)-keyed count + per-node argmax — the same
    * co-partitioned edges-join-vector shape as [[pagerank]], with the
    * label vector node-sized. Isolated nodes never appear (no edges →
    * no membership); a clique converges to its minimum id.
    */
  def labelPropagation(edges: DataFrame, aCol: String, bCol: String,
      iters: Int): DataFrame = {
    val e = edges.filter(col(aCol) =!= col(bCol))
    val directed = e
      .select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionAll(e.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct().cache()
    var labels = directed.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    val byCount = org.apache.spark.sql.expressions.Window
      .partitionBy("node").orderBy(col("c").desc, col("label"))
    for (_ <- 1 to iters) {
      labels = directed
        .join(labels.withColumnRenamed("node", "dst"), Seq("dst"))
        .groupBy(col("src").as("node"), col("label"))
        .agg(count(lit(1)).as("c"))
        .withColumn("rk", row_number().over(byCount))
        .filter(col("rk") === 1)
        .select(col("node"), col("label"))
    }
    labels
  }

  /** Multi-source BFS hop labeling over an undirected edge list —
    * bounded reachability (blast radius of a contaminated source set,
    * steps-to-seed curation distance): every node reached within
    * `maxHops` of ANY source gets its minimum hop count.
    *
    * The frontier pattern: per hop ONE edges⋈frontier join on the
    * source id (same co-partitioned layout as [[pagerank]] — the edge
    * relation partitions once, every hop reuses it) plus an anti-join
    * against the visited set, so a node is expanded exactly ONCE no
    * matter how many paths reach it — per-hop work is proportional to
    * the NEW frontier's edges, never the whole graph again. `maxHops`
    * bounds the rounds.
    *
    * Iteration hygiene (same cadence as [[kCore]]/[[onionLayers]]):
    * every per-round relation is `localCheckpoint(true)`'d, so the
    * `visited` unionAll chain stays FLAT — each round's plan is one
    * LogicalRDD plus one union, never a maxHops-deep lineage — and no
    * round retains its predecessor's cache (checkpoint blocks are
    * reclaimed by the ContextCleaner once unreachable, where the old
    * `.cache()`-per-round form pinned O(hops) node-sized caches for
    * the job's lifetime). An empty frontier short-circuits the loop:
    * a diameter-d component costs d rounds, not maxHops.
    *
    * Pure integer surface. Sources appear at hop 0 (graph membership
    * not required); unreached nodes are absent.
    */
  def bfsHops(edges: DataFrame, aCol: String, bCol: String,
      sources: DataFrame, maxHops: Int): DataFrame = {
    val e = edges.filter(col(aCol) =!= col(bCol))
    val directed = e
      .select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionAll(e.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct().localCheckpoint(true)
    var frontier = sources.select(col(sources.columns.head).as("node"))
      .distinct().localCheckpoint(true)
    var visited = frontier.select(col("node"), lit(0L).as("hop"))
      .localCheckpoint(true)
    var h = 1
    var live = true
    while (h <= maxHops && live) {
      val next = directed
        .join(frontier.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .localCheckpoint(true)
      if (next.isEmpty) live = false
      else {
        visited = visited
          .unionAll(next.select(col("node"), lit(h.toLong).as("hop")))
          .localCheckpoint(true)
        frontier = next
      }
      h += 1
    }
    visited
  }

  /** Degree-capped kNN graph from a scored undirected candidate-pair
    * relation: both orientations of every pair rank per source node by
    * (similarity desc, neighbor id) and only the top `k` arcs per node
    * survive — the standard production fix for a THRESHOLD graph whose
    * edge count is quadratic by construction (a fixed cosine threshold
    * sits at a constant percentile of the background similarity
    * distribution, so |E| ∝ n²·p; measured ×103 edges at ×10 vectors on
    * the testdata's 0.25-threshold graph). The capped graph carries
    * |E| ≤ k·n, restoring linear-in-corpus iteration cost for BFS /
    * components / PageRank over similarity neighborhoods.
    *
    * Shape: one union of the two orientations, ONE per-node window
    * (WindowGroupLimit prunes to k before the sort materializes a
    * node's full candidate list). Returns directed arcs
    * (src, dst, sim); downstream symmetrization (e.g. [[bfsHops]]'s
    * internal union) yields the union-kNN graph.
    */
  def knnGraph(pairs: DataFrame, aCol: String, bCol: String,
      simCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val arcs = pairs
      .select(col(aCol).as("src"), col(bCol).as("dst"), col(simCol).as("sim"))
      .unionAll(pairs
        .select(col(bCol).as("src"), col(aCol).as("dst"), col(simCol).as("sim")))
    val w = Window.partitionBy("src").orderBy(col("sim").desc, col("dst"))
    arcs
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("src"), col("dst"), col("sim"))
  }

  /** Onion decomposition at threshold k: [[kCore]]'s peel with the
    * REMOVAL ROUND recorded — layer(v) = the first round after which v
    * leaves the graph (deg < k, or all its edges died with its
    * neighbors), and the nodes still standing after `rounds` carry
    * layer 0: the k-core itself. The layer number is how deep into the
    * fringe a node sits — the "peripheral-ness" coordinate a flat
    * in-or-out core test throws away. Same per-round shapes and
    * checkpoint cadence as kCore; one extra endpoints anti-join per
    * round to catch the nodes whose edges vanished.
    */
  def onionLayers(edges: DataFrame, aCol: String, bCol: String,
      k: Int, rounds: Int): DataFrame = {
    var e = edges.filter(col(aCol) =!= col(bCol))
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .distinct()
      .localCheckpoint(true)
    def nodesOf(g: DataFrame) =
      g.select(col("u").as("node")).unionAll(g.select(col("v").as("node")))
        .distinct()
    var labeled = e.sparkSession.range(0)
      .select(col("id").as("node"), col("id").as("layer"))
    for (r <- 1 to rounds) {
      val before = nodesOf(e)
      val keep = e.select(col("u").as("node"))
        .unionAll(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select("node")
      e = e
        .join(keep.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
        .join(keep.withColumnRenamed("node", "v"), Seq("v"), "left_semi")
        .localCheckpoint(true)
      val gone = before.join(nodesOf(e), Seq("node"), "left_anti")
        .select(col("node"), lit(r.toLong).as("layer"))
      labeled = labeled.unionAll(gone).localCheckpoint(true)
    }
    labeled.unionAll(
      nodesOf(e).select(col("node"), lit(0L).as("layer")))
  }

  /** Common-neighbor link prediction (Liben-Nowell & Kleinberg, CIKM
    * 2003): for node pairs at distance 2 that are NOT adjacent, the
    * number of shared neighbors and the neighborhood-Jaccard score
    * cn/(deg_u + deg_v − cn) in integer ppm — "which docs/users will
    * connect next", the classic graph-completion baseline. Returns the
    * top `k` candidates by (cn desc, jaccard desc, u, v).
    *
    * One wedge self-join on the CENTER node (Σ deg(w)² pairs — bounded
    * by the thresholded graph's degree distribution, the same budget
    * [[triangleCounts]] pays), an anti-join against the edge list, a
    * broadcast degree dim, and a TakeOrdered top-k — no global sort.
    */
  /** Degree assortativity (Newman, PRL 2002): the Pearson correlation
    * of endpoint degrees over the directed edge list (each undirected
    * edge counted in both orientations, so the statistic is symmetric
    * by construction) — positive means hubs link hubs (social-graph
    * shape), negative means hubs link leaves (the dup-star shape that
    * tells you near-duplicate clusters have canonical centers).
    * Moments are exact DECIMAL sums of integer degrees; the one double
    * expression derives r from them in fixed order, micro-rounded.
    * Returns one row: (n_directed_edges, r_micro).
    */
  def degreeAssortativity(edges: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val e = edges.filter(col(aCol) =!= col(bCol))
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .distinct()
    val directed = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
    val deg = directed.groupBy(col("u").as("node"))
      .agg(count(lit(1)).as("d"))
    val xy = directed
      .join(deg.select(col("node").as("u"), col("d").as("dx")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("d").as("dy")), Seq("v"))
    val m = xy.agg(count(lit(1)).as("n"),
      sum(col("dx").cast("decimal(38,0)")).as("sx"),
      sum(col("dy").cast("decimal(38,0)")).as("sy"),
      sum((col("dx") * col("dy")).cast("decimal(38,0)")).as("sxy"),
      sum((col("dx") * col("dx")).cast("decimal(38,0)")).as("sxx"),
      sum((col("dy") * col("dy")).cast("decimal(38,0)")).as("syy"))
    val dn = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    m.select(col("n").as("n_directed_edges"),
      round((dn * d("sxy") - d("sx") * d("sy")) /
        sqrt((dn * d("sxx") - d("sx") * d("sx")) *
          (dn * d("syy") - d("sy") * d("sy"))) * lit(1000000.0))
        .cast("long").as("r_micro"))
  }

  /** Newman-Girvan modularity terms per community: with m undirected
    * edges, e_c intra-community edges and d_c the community's degree
    * sum, community c contributes Q_c = e_c/m − (d_c/2m)². The output
    * carries the EXACT integer pair q_num = 4·m·e_c − d_c² over
    * q_den = 4·m² instead of a rounded quotient — Q_c is signed, and
    * signed integer division is a portability trap (Spark's `div`
    * truncates toward zero, DuckDB's `//` floors), so the division is
    * left to the consumer where a rational suffices. Σ q_num / q_den
    * is the partition's modularity — THE number that says whether the
    * label-propagation communities are real structure or noise
    * (Q ≈ 0 random, Q ≳ 0.3 strong).
    *
    * One labeled-edge join + two bounded aggregations; the 1-row edge
    * count broadcasts. Labels must cover every edge endpoint (label
    * propagation's contract — isolated nodes have no edges here).
    */
  def modularityTerms(edges: DataFrame, aCol: String, bCol: String,
      labels: DataFrame): DataFrame = {
    val e = edges.filter(col(aCol) =!= col(bCol))
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .distinct()
    val m = e.agg(count(lit(1)).as("m"))
    val eLab = e
      .join(labels.select(col("node").as("u"), col("label").as("cu")), Seq("u"))
      .join(labels.select(col("node").as("v"), col("label").as("cv")), Seq("v"))
    val intra = eLab.filter(col("cu") === col("cv"))
      .groupBy(col("cu").as("community"))
      .agg(count(lit(1)).as("e_intra"))
    val deg = e.select(col("u").as("node"))
      .unionAll(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val ds = deg.join(labels, Seq("node"))
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_nodes"), sum("d").as("d_sum"))
    ds.join(intra, Seq("community"), "left")
      .na.fill(0L, Seq("e_intra"))
      .crossJoin(broadcast(m))
      .select(col("community"), col("n_nodes"), col("e_intra"), col("d_sum"),
        (lit(4L) * col("m") * col("e_intra") - col("d_sum") * col("d_sum"))
          .as("q_num"),
        (lit(4L) * col("m") * col("m")).as("q_den"))
  }

  /** k-core decomposition by synchronous peeling (Seidman 1983; the
    * Batagelj-Zaveršnik sequential algorithm distributed as rounds):
    * each round removes every node whose CURRENT degree is below `k`
    * and induces the subgraph on the survivors; the fixpoint is the
    * k-core — the maximal subgraph where every member keeps ≥ k
    * neighbors, the standard "dense nucleus" extractor (community
    * cores, spam-farm detection, robustness analysis). `rounds` bounds
    * the peel (a cascade can be graph-diameter long); the output is
    * round-`rounds` state — the spec shows small graphs converge well
    * inside the default, and the oracle replays the SAME round count,
    * so the contract is exact either way.
    *
    * Per round: one degree aggregation + two semi-joins on the
    * SHRINKING edge set — never the corpus, never all-pairs; each
    * round's edge set is checkpoint-cached so Catalyst plans a
    * constant-size tree instead of 2^rounds lineage (the
    * duplicateClusters lesson). Returns (node, core_degree) for nodes
    * surviving the peel.
    */
  def kCore(edges: DataFrame, aCol: String, bCol: String,
      k: Int, rounds: Int): DataFrame = {
    var e = edges.filter(col(aCol) =!= col(bCol))
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .distinct()
      .localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val adj = e.select(col("u").as("n"))
        .unionAll(e.select(col("v").as("n")))
      val keep = adj.groupBy("n").agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select("n")
      e = e
        .join(keep.withColumnRenamed("n", "u"), Seq("u"), "left_semi")
        .join(keep.withColumnRenamed("n", "v"), Seq("v"), "left_semi")
        .localCheckpoint(true)
    }
    e.select(col("u").as("node")).unionAll(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("core_degree"))
  }

  def linkPrediction(edges: DataFrame, aCol: String, bCol: String,
      k: Int): DataFrame = {
    val e = edges.filter(col(aCol) =!= col(bCol))
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .distinct()
    val adjacency = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      .select(col("u").as("n"), col("v").as("nbr"))
    val deg = adjacency.groupBy("n").agg(count(lit(1)).as("d"))
    val cn = adjacency.select(col("n").as("w"), col("nbr").as("cu"))
      .join(adjacency.select(col("n").as("w"), col("nbr").as("cv")), Seq("w"))
      .filter(col("cu") < col("cv"))
      .groupBy(col("cu").as("u"), col("cv").as("v"))
      .agg(count(lit(1)).as("cn"))
      .join(e, Seq("u", "v"), "left_anti")
    cn
      .join(broadcast(deg.select(col("n").as("u"), col("d").as("du"))), Seq("u"))
      .join(broadcast(deg.select(col("n").as("v"), col("d").as("dv"))), Seq("v"))
      .select(col("u"), col("v"), col("cn"),
        expr("cn * 1000000 div (du + dv - cn)").as("jaccard_ppm"))
      .orderBy(col("cn").desc, col("jaccard_ppm").desc, col("u"), col("v"))
      .limit(k)
  }
}
