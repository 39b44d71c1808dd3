package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Graph operators over edge/pair tables — centrality and propagation
  * passes a corpus pipeline runs on its derived document graphs (near-dup
  * pairs, citation/link graphs, co-bucket candidates). The reference has
  * no graph surface (SURVEY §2.8); this is a north-star extension built
  * on the same pair tables the dedup stack already produces.
  */
object Graphs {

  /** Scoped per-round shuffle width for the iterative loops (r21, guide
    * §2 right-sizing; VERDICT r20 #2: q188/q172/q161 run FASTER at 8
    * cores than 32 — per-round exchanges at cluster width cost more in
    * task scheduling than they parallelize when the round volume is
    * small). The bracket narrows `spark.sql.shuffle.partitions` for the
    * duration of the loop's eager actions and restores it after, with
    * the width derived from the MEASURED row volume flowing through a
    * round (edge rows × per-row state), never from the core count alone:
    * `width = clamp(rows / 64k, 2, defaultParallelism)` — a graph with
    * ≥ 64k·parallelism round rows keeps the full session width, so this
    * is a fixture-shape correction that vanishes at scale, like
    * TextAnalysis.spread's guard. Session-conf scoping follows the
    * streamShards precedent: the gate harness is single-threaded per
    * session; the returned frame plans AFTER restore, at session width.
    *
    * Width never changes results: every loop is integer/order-
    * independent arithmetic with total-ordered windows (the oracle
    * replays them), which is also why the session-wide 8-vs-32 A/B that
    * motivated this (ISO r21: q161 4.33→2.82, q188 5.66→4.47) could run
    * against the same oracle.
    */
  private[graft] def withRoundWidth[T](
      df: DataFrame, roundRows: Long)(body: => T): T = {
    // Measurement-only kill switch for A/Bs: `off` runs every loop at
    // session width (the control arm).
    if (sys.env.get("SPARK_GRAFT_ROUND_WIDTH").contains("off")) return body
    val spark = df.sparkSession
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    // Cap at the SESSION's configured width, not defaultParallelism: a
    // session that deliberately runs shuffle.partitions above the core
    // count (production posture, DedupSkewSpec's pinned skew regime)
    // must keep that width whenever the round volume warrants it — this
    // bracket only ever NARROWS for small rounds, never re-widths.
    val cap = math.max(2L, scala.util.Try(prev.toLong).getOrElse(
      spark.sparkContext.defaultParallelism.toLong))
    val width = math.max(2L, math.min(cap, roundRows / 65536L + 1L)).toInt
    spark.conf.set("spark.sql.shuffle.partitions", width.toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Deterministic scaled-integer PageRank over an undirected graph —
    * the quality-propagation / centrality pass (harmonic-rank corpus
    * weighting, hub detection in near-dup graphs) computed EXACTLY:
    * ranks live as BIGINTs at `scale` (r₀ = scale), each round is
    * `r'(v) = ⌊scale·15/100⌋ + Σ_{u∈N(v)} ⌊r(u)·85 / (100·deg(u))⌋`
    * (α = 0.85), and because every operation is integer arithmetic on
    * nonnegative values the fixpoint iteration is order-independent and
    * engine-bit-identical — no float mass to drift. (Spark `div`
    * truncates toward zero and DuckDB `//` floors; ranks are
    * nonnegative throughout, where the two agree.)
    *
    * Semantics notes: the graph is symmetrized and de-duplicated
    * (self-loops dropped); vertices are the edge endpoints — an isolated
    * node has no row. Flooring drops mass, so ranks are a deterministic
    * LOWER quantization of float PageRank·scale, not a re-normalized
    * distribution — ordering, which is what a corpus weighting consumes,
    * is preserved to quantization granularity.
    *
    * Scale: each round is one edge-keyed equi-join (rank lookup on
    * `src`) + one map-side-combined sum on `dst` — the textbook
    * Pregel/GraphX shape expressed relationally, `iters` shuffle rounds
    * total, nothing quadratic. Degrees and the symmetrized edge table
    * persist for the loop and are released after the final ranks
    * materialize (the returned frame owns the one remaining small
    * cache, |V| rows, like dedupClusters' labels). BIGINT headroom:
    * a vertex's rank is bounded by ~0.85·N·scale on a star graph —
    * lower `scale` a decade per 10× vertices past ~10⁵ at the default
    * (DuckDB raises on overflow, Spark wraps; staying exact in BOTH
    * engines is the contract).
    */
  def pageRank(
      edges: DataFrame,
      iters: Int = 4,
      scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1 && iters <= 64, s"iters=$iters out of range [1, 64]")
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val symd = sym.join(deg, Seq("src")).persist(StorageLevel.MEMORY_AND_DISK)
    // One count fills both persists and measures the per-round rank-join
    // volume for the scoped width bracket.
    val edgeRows = symd.count()
    withRoundWidth(symd, edgeRows) {
      val nodes = deg.select(col("src").as("id"), col("deg"))
      val base = scale * 15L / 100L
      var ranks = nodes.select(col("id"), lit(scale).as("r"))
      for (_ <- 1 to iters) {
        val contrib = symd
          .join(ranks.select(col("id").as("src"), col("r")), Seq("src"))
          .select(col("dst").as("id"), expr("r * 85 div (100 * deg)").as("c"))
          .groupBy(col("id"))
          .agg(sum(col("c")).as("in_sum"))
        ranks = nodes.select(col("id"))
          .join(contrib, Seq("id"), "left_outer")
          .select(col("id"), (lit(base) + coalesce(col("in_sum"), lit(0L))).as("r"))
      }
      val out = nodes.join(ranks, Seq("id"))
        .select(col("id"), col("deg"), col("r").as("rank_scaled"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      out.count()
      symd.unpersist()
      deg.unpersist()
      out
    }
  }

  /** Personalized PageRank / TrustRank (Haveliwala 2002; Gyöngyi et al.
    * 2004) — [[pageRank]]'s recurrence with the teleport mass
    * concentrated on a trusted SEED set instead of spread uniformly:
    * `r'(v) = 1{v∈S}·⌊scale·15/100⌋ + Σ_{u∈N(v)} ⌊r(u)·85/(100·deg(u))⌋`,
    * seeds initialized at `scale`, everyone else at 0. Rank now measures
    * proximity-weighted reachability FROM the seeds — the continuous
    * counterpart of [[seedDistances]]' discrete hop count (two nodes at
    * hop 2 differ by how MANY independent paths carry trust, which a
    * BFS distance cannot see). Same exactness contract as pageRank:
    * BIGINT throughout, order-independent, truncation-toward-zero on
    * nonnegative values where Spark `div` and DuckDB `//` agree.
    *
    * Scale: identical shape to [[pageRank]] — per round one edge-keyed
    * rank-lookup join + one map-side-combined sum; the seed membership
    * is a broadcast hash join per round (seed sets are small by
    * construction). Nodes unreachable from the seeds hold rank 0 and
    * are KEPT (rank 0 is the signal); eager materialization + released
    * caches as pageRank.
    */
  def personalizedPageRank(
      edges: DataFrame,
      seeds: DataFrame,
      iters: Int = 4,
      scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1 && iters <= 64, s"iters=$iters out of range [1, 64]")
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val symd = sym.join(deg, Seq("src")).persist(StorageLevel.MEMORY_AND_DISK)
    val seedIds = seeds.select(col("id")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // One count fills the edge persists and measures the per-round
    // rank-join volume for the scoped width bracket.
    val edgeRows = symd.count()
    withRoundWidth(symd, edgeRows) {
      val nodes = deg.select(col("src").as("id"), col("deg"))
      val withSeed = nodes
        .join(broadcast(seedIds.select(col("id"), lit(true).as("is_seed"))), Seq("id"), "left_outer")
        .select(col("id"), col("deg"), coalesce(col("is_seed"), lit(false)).as("is_seed"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val base = scale * 15L / 100L
      var ranks = withSeed.select(
        col("id"), when(col("is_seed"), lit(scale)).otherwise(lit(0L)).as("r"))
      for (_ <- 1 to iters) {
        val contrib = symd
          .join(ranks.select(col("id").as("src"), col("r")), Seq("src"))
          .select(col("dst").as("id"), expr("r * 85 div (100 * deg)").as("c"))
          .groupBy(col("id"))
          .agg(sum(col("c")).as("in_sum"))
        ranks = withSeed.select(col("id"), col("is_seed"))
          .join(contrib, Seq("id"), "left_outer")
          .select(
            col("id"),
            (when(col("is_seed"), lit(base)).otherwise(lit(0L)) +
              coalesce(col("in_sum"), lit(0L))).as("r"))
      }
      val out = withSeed.join(ranks, Seq("id"))
        .select(col("id"), col("deg"), col("is_seed"), col("r").as("trust_scaled"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      out.count()
      symd.unpersist()
      deg.unpersist()
      seedIds.unpersist()
      withSeed.unpersist()
      out
    }
  }

  /** Exact per-node triangle counts + whole-graph-exact local clustering
    * coefficients — the cohesion QA a pipeline runs on its derived
    * document graphs (a near-dup cluster whose members close triangles is
    * a real template family; a hub with thousands of edges but no closure
    * is boilerplate glue joining unrelated documents — different
    * suppression decisions). Coefficients surface as
    * `⌊2·10⁶·triangles / (deg·(deg−1))⌋` ppm BIGINTs (same truncation in
    * both engines on the nonnegative operands), one row per vertex
    * including triangle-free ones.
    *
    * Algorithm: compact-forward / degree orientation (Latapy 2008; the
    * MapReduce formulation is Suri & Vassilvitskii 2011's graph
    * partitioning) — each undirected edge orients from its
    * (deg, id)-smaller endpoint, wedges enumerate ONLY at a pair's
    * orientation-minimal vertex, and a wedge closes iff its (v, w) arc
    * exists in the oriented edge set. Orientation caps out-degree at
    * O(√|E|) on any graph, so the wedge join is bounded by Σ out-deg² —
    * the standard defense against the hub blow-up a naive
    * neighbors-of-neighbors join hits (a degree-10⁶ hub never enumerates
    * its own wedge pairs; its edges all point INTO it).
    *
    * Scale: three equi-joins (two degree lookups, one wedge-closure probe
    * on the composite (v, w) key) and two aggregates — every shuffle is
    * keyed and linear in its input; nothing is all-pairs. BIGINT
    * headroom: per-node triangles ≤ C(deg, 2), so the ppm numerator stays
    * inside BIGINT up to deg ~ 2·10⁶.
    *
    * Input: an edge-pair frame `(src, dst)`; self-loops, duplicates, and
    * orientation are normalized here. Eager like [[pageRank]]: the result
    * materializes before return and owns the one remaining |V|-row cache;
    * the larger edge/wedge intermediates are released on exit.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val und = edges
      .select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .select(
        least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sym = und.union(und.select(col("dst").as("src"), col("src").as("dst")))
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as("id"), col("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val srcFirst = col("deg_s") < col("deg_d") ||
      (col("deg_s") === col("deg_d") && col("src") < col("dst"))
    val oriented = und
      .join(deg.select(col("id").as("src"), col("deg").as("deg_s")), Seq("src"))
      .join(deg.select(col("id").as("dst"), col("deg").as("deg_d")), Seq("dst"))
      .select(
        when(srcFirst, col("src")).otherwise(col("dst")).as("u"),
        when(srcFirst, col("dst")).otherwise(col("src")).as("v"),
        when(srcFirst, col("deg_d")).otherwise(col("deg_s")).as("deg_v"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val wedges = oriented.select(col("u"), col("v").as("v1"), col("deg_v").as("dv1"))
      .join(oriented.select(col("u"), col("v").as("v2"), col("deg_v").as("dv2")), Seq("u"))
      .filter(col("dv1") < col("dv2") || (col("dv1") === col("dv2") && col("v1") < col("v2")))
    val tri = wedges
      .join(oriented.select(col("u").as("v1"), col("v").as("v2")), Seq("v1", "v2"))
      .select(col("u"), col("v1"), col("v2"))
    val perNode = tri
      .select(explode(array(col("u"), col("v1"), col("v2"))).as("id"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("triangles"))
    val out = deg.join(perNode, Seq("id"), "left_outer")
      .select(col("id"), col("deg"), coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn(
        "coeff_ppm",
        when(col("deg") >= 2, expr("(2000000 * triangles) div (deg * (deg - 1))"))
          .otherwise(lit(0L)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    oriented.unpersist()
    deg.unpersist()
    und.unpersist()
    out
  }

  /** Synchronous label propagation (Raghavan et al. 2007) — community
    * detection over the corpus's derived graphs (template families in a
    * rare-shingle graph, topic groups in a near-dup graph), the
    * assignment pass whose communities feed quota/dedup decisions where
    * [[pageRank]] feeds weights. Each node starts labeled with its own
    * id; every round, ALL nodes simultaneously adopt the most frequent
    * label among their neighbors, ties broken toward the SMALLEST
    * label — fully deterministic (classic async LPA is famously
    * order-dependent; the synchronous + total-order-tie-break variant
    * is reproducible run to run and engine to engine, which the q154
    * oracle hash-checks round for round).
    *
    * `iters` is a fixed round count, not convergence detection: bounded
    * plans, and the oracle unrolls the same count. On bipartite-ish
    * structures synchronous LPA can 2-cycle — a fixed even/odd round
    * count still yields a deterministic labeling (documented behavior,
    * same stance as [[pageRank]]'s fixed `iters`).
    *
    * Scale: each round is one edge-keyed join (label lookup on `src`),
    * one map-side-combined (dst, label) count, and one per-node top-1
    * window over the label-count table (bounded by the edge count, and
    * WindowGroupLimit prunes it to the per-node argmax before any
    * sort spills). Nothing quadratic; `iters` shuffle rounds total.
    * Eager like [[pageRank]]: the result owns the one remaining |V|-row
    * cache, the symmetrized edge table is released on exit.
    */
  /** Coreness (k-core number) via synchronous H-index iteration (Lü,
    * Zhou, Zhang & Stanley 2016: the node H-index sequence h⁰ = degree,
    * hᵗ(v) = H({hᵗ⁻¹(u) : u ∈ N(v)}) decreases monotonically to the
    * node's CORENESS) — the density/cohesion grade a corpus pipeline
    * uses to separate deeply templated families (high core) from
    * incidental shared-phrase pairs (core 1) in its derived document
    * graphs, where [[triangleCounts]] grades local closure and
    * [[labelPropagation]] assigns membership. The H-index of a
    * multiset is the largest h with at least h members ≥ h; computed
    * relationally as `max(least(rank, value))` over the
    * descending-ordered neighbor estimates — no driver-side state.
    *
    * `iters` is a fixed round count like [[labelPropagation]]'s: the
    * oracle unrolls the same count, and intermediate values are exact
    * upper bounds (degree ≥ hᵗ ≥ coreness always), so a short budget
    * degrades gracefully rather than wrongly. Convergence on any graph
    * takes at most the graph's degeneracy-ordering depth; the property
    * spec checks fixed-point equality against a brute-force peel.
    *
    * Scale: each round is one edge-keyed join (estimate lookup on
    * `src`) + one per-`dst` window rank + one map-side max — the
    * [[pageRank]] round shape with a window where PageRank has a sum.
    * The window sorts each node's NEIGHBOR LIST (bounded by max
    * degree), never the graph. Eager like [[pageRank]]: the result
    * owns the one remaining |V|-row cache.
    */
  def corenessHIndex(edges: DataFrame, iters: Int = 4): DataFrame = {
    require(iters >= 1 && iters <= 32, s"iters=$iters out of range [1, 32]")
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // One count fills the persist (the first round would anyway) and
    // measures the per-round join volume for the scoped width.
    val edgeRows = sym.count()
    withRoundWidth(sym, edgeRows) {
      val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .select(col("src").as("id"), col("deg"))
      var h = deg.select(col("id"), col("deg").as("h"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("dst")).orderBy(col("e").desc, col("src"))
      for (_ <- 1 to iters) {
        h = sym
          .join(h.select(col("id").as("src"), col("h").as("e")), Seq("src"))
          .withColumn("rn", row_number().over(w))
          .select(col("dst").as("id"), least(col("rn").cast("long"), col("e")).as("le"))
          .groupBy(col("id"))
          .agg(max(col("le")).as("h"))
      }
      val out = deg.join(h, Seq("id"))
        .select(col("id"), col("deg"), col("h").as("coreness"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      out.count()
      sym.unpersist()
      out
    }
  }

  /** Multi-source BFS hop distance from a trusted seed set — the
    * discrete TrustRank-style proximity prior (seed-adjacent documents
    * inherit trust; distance caps how far it propagates) a curation
    * pass attaches before weighting, over the same derived graphs the
    * other operators analyze. Emits `(id, dist)` for every node within
    * `maxHops` of a seed: seeds at 0 (including seeds absent from the
    * edge set — an isolated trusted doc is still trusted), each round
    * relaxes one hop, min-merge keeps the shortest. Nodes farther than
    * `maxHops` (or unreachable) emit nothing — the consumer treats
    * absence as "beyond the horizon".
    *
    * Scale: round t is one edge-keyed join against a frontier-plus-
    * settled table of ≤ |V| rows and one map-side-combined min — the
    * Pregel SSSP shape relationally, `maxHops` shuffle rounds total.
    * Distances are BIGINT; min-merge is order-independent, so the
    * result is engine-bit-identical and the oracle unrolls the same
    * relaxation rounds.
    */
  def seedDistances(edges: DataFrame, seeds: DataFrame, maxHops: Int = 4): DataFrame = {
    require(maxHops >= 1 && maxHops <= 32, s"maxHops=$maxHops out of range [1, 32]")
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // One count fills the persist and measures the per-hop frontier-join
    // volume for the scoped width bracket.
    val edgeRows = sym.count()
    withRoundWidth(sym, edgeRows) {
      var dist = seeds.select(col("id")).distinct()
        .select(col("id"), lit(0L).as("dist"))
      for (_ <- 1 to maxHops) {
        // Eager per-round lineage truncation (the [[hits]] standard): each
        // round references `dist` TWICE (carry-forward union side + frontier
        // join side), so the unmaterialized plan doubles per hop — 2^maxHops
        // subtree re-executions by the last round. `localCheckpoint(eager)`
        // lands the ≤|V|-row round state as RDD blocks and resets the plan
        // to a constant-size LogicalRDD.
        dist = dist
          .union(sym
            .join(dist.select(col("id").as("src"), col("dist")), Seq("src"))
            .select(col("dst").as("id"), (col("dist") + 1L).as("dist")))
          .groupBy(col("id"))
          .agg(min(col("dist")).as("dist"))
          .localCheckpoint(true)
      }
      val out = dist.persist(StorageLevel.MEMORY_AND_DISK)
      out.count()
      sym.unpersist()
      out
    }
  }

  def labelPropagation(edges: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 32, s"iters=$iters out of range [1, 32]")
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // One count fills the persist and measures the per-round label-join
    // volume for the scoped width bracket.
    val edgeRows = sym.count()
    withRoundWidth(sym, edgeRows) {
      val nodes = sym.select(col("src").as("id")).distinct()
      var labels = nodes.select(col("id"), col("id").as("l"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("dst")).orderBy(col("n").desc, col("l"))
      for (_ <- 1 to iters) {
        labels = sym
          .join(labels.select(col("id").as("src"), col("l")), Seq("src"))
          .groupBy(col("dst"), col("l"))
          .agg(count(lit(1)).as("n"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("dst").as("id"), col("l"))
      }
      val out = labels.select(col("id"), col("l").as("label"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      out.count()
      sym.unpersist()
      out
    }
  }

  /** Newman modularity of a community assignment — the "are these
    * communities better than random?" score that grades a
    * [[labelPropagation]] (or any other) clustering before a pipeline
    * trusts it for cluster-aware splits or per-community sampling.
    * Per community `c` over an undirected graph with `m` edges:
    * `Q_c = m_c/m − (d_c/2m)²` where `m_c` counts intra-community edges
    * and `d_c` sums member degrees; total modularity is `Σ_c Q_c`.
    *
    * Everything is exact BIGINT sufficient statistics
    * (`q_num = 4·m·m_c − d_c²`, so `Q_c = q_num / 4m²`) plus ONE IEEE
    * division per row on those exact inputs — engine-bit-identical; no
    * ppm floor-division here because `q_num` is legitimately NEGATIVE
    * for worse-than-random communities and truncating (Spark `div`) vs
    * flooring (DuckDB `//`) engines disagree below zero. BIGINT
    * headroom: `d_c² ≤ 4m²`, exact while `2m ≤ 3·10⁹` edge-endpoints —
    * beyond that the degree sums need DECIMAL, not this operator's
    * domain.
    *
    * Inputs: `edges(src, dst)` undirected, one row per edge (src < dst,
    * distinct — [[graft.operators.Dedup.rareShingleEdges]]' contract);
    * `labels(id, label)` covering every endpoint. Scale: one edge-table
    * aggregate per endpoint for degrees, two label equi-joins on the
    * edge table (community-labeled endpoints), then everything is
    * communities-sized; the single global total `m` broadcasts.
    */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val und = edges.select(col("src"), col("dst"))
    val lab = labels.select(col("id"), col("label"))
    val tot = und.agg(count(lit(1)).as("m"))
    val deg = und.select(col("src").as("id"))
      .union(und.select(col("dst").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val byC = deg.join(lab, Seq("id"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("deg_sum"))
    val mIn = und
      .join(lab.select(col("id").as("src"), col("label").as("la")), Seq("src"))
      .join(lab.select(col("id").as("dst"), col("label").as("lb")), Seq("dst"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("label"))
      .agg(count(lit(1)).as("m_in"))
    byC.join(mIn, Seq("label"), "left")
      .withColumn("m_in", coalesce(col("m_in"), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn(
        "q_num",
        lit(4L) * col("m") * col("m_in") - col("deg_sum") * col("deg_sum"))
      .withColumn(
        "q_contrib",
        col("q_num").cast("double") / (lit(4L) * col("m") * col("m")).cast("double"))
      .select(
        col("label"), col("n_nodes"), col("m_in"), col("deg_sum"),
        col("q_num"), col("q_contrib"))
  }

  /** HyperBall (Boldi & Vigna 2013) — per-node r-hop neighborhood-size
    * estimation by propagating HLL registers along edges, the sketch
    * that turned graph distance distributions (effective diameter,
    * closeness/harmonic centrality) from "BFS per node" into a handful
    * of linear passes. State per node is one m = 2^p register table of
    * the ball-so-far; each round registers flow across edges and merge
    * by MAX — and because register-max is associative, commutative, and
    * idempotent, round t's registers are EXACTLY
    * `Sketches.hllRegisters` of the true t-hop ball membership set (no
    * propagation error accumulates — the estimate error is HLL's alone,
    * and the whole computation is engine-bit-identical: integer
    * registers, one IEEE division at the end). The differential spec
    * asserts precisely that identity against brute-force balls.
    *
    * Output: one row per non-isolated vertex with the final-round
    * register summary and `est_ball` ≈ |B(v, rounds)| (self included).
    * No linear-counting correction — like [[graft.functions.Sketches
    * .hllDistinct]], the estimate is a DETERMINISTIC diagnostic, biased
    * high for balls ≪ m; comparisons across nodes (the centrality /
    * diameter use) are what it's for.
    *
    * Scale: the Pregel shape relationally — per round ONE edge-keyed
    * equi-join (m rows per node flow per edge) + one map-side-combined
    * (id, reg) max; each round's register table persists and the
    * previous releases (the state frame is referenced twice per round —
    * unmaterialized, the plan would double every round). |V|·m state
    * rows, `rounds` shuffle rounds, nothing quadratic; the returned
    * frame owns the one remaining |V|·m cache, like [[pageRank]]'s
    * ranks.
    */
  def hyperBall(edges: DataFrame, rounds: Int = 3, p: Int = 6): DataFrame = {
    require(rounds >= 1 && rounds <= 16, s"rounds=$rounds out of range [1, 16]")
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Round volume = m registers flowing per edge (the prop join), the
    // dominant per-round shuffle; one count fills the persist.
    val roundRows = sym.count() * (1L << p)
    withRoundWidth(sym, roundRows) {
      val nodes = sym.select(col("src").as("id")).distinct()
      var regs = graft.functions.Sketches.hllRegisters(nodes, "id", "id", p)
        .persist(StorageLevel.MEMORY_AND_DISK)
      regs.count()
      for (_ <- 1 to rounds) {
        val prop = sym
          .join(regs.select(col("id").as("src"), col("reg"), col("r")), Seq("src"))
          .select(col("dst").as("id"), col("reg"), col("r"))
        val next = regs.unionByName(prop)
          .groupBy(col("id"), col("reg"))
          .agg(max(col("r")).as("r"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        next.count()
        regs.unpersist()
        regs = next
      }
      val out = graft.functions.Sketches.hllEstimate(regs, "id", p)
        .withColumnRenamed("est_distinct", "est_ball")
      sym.unpersist()
      out
    }
  }

  /** HITS hubs & authorities (Kleinberg 1999) over a DIRECTED edge table,
    * computed exactly in scaled integers — the mutual-reinforcement
    * complement to [[pageRank]]'s single centrality: a hub is good
    * because it points at good authorities, an authority is good because
    * good hubs point at it. On the pipeline's bipartite interaction
    * graphs (customer → product, document → cited source) the two sides
    * ARE the two roles, which is HITS' natural home.
    *
    * Exactness: scores live as BIGINTs. Each half-round is
    * `a_raw(v) = Σ_{u→v} h(u)` then a DETERMINISTIC integer
    * renormalization `a(v) = a_raw(v) div max(1, max_raw div scale)` —
    * dividing by the quotient rather than multiplying by `scale`
    * (the float-free stand-in for HITS' L2 normalization) keeps every
    * intermediate inside BIGINT with no wide products: for any
    * `m ≥ scale`, `m div (m div scale) < 2·scale`, so scores are
    * bounded by 2·scale and a raw sum by `2·scale·deg_max`
    * (~2·10¹⁵ at the 10⁹ default with 10⁶-degree hubs). Sums of
    * BIGINTs are order-independent and `div` on nonnegative operands
    * truncates identically in Spark and DuckDB — the fixpoint is
    * engine-bit-identical. Like [[pageRank]], flooring makes scores a
    * deterministic lower quantization of the float fixpoint; ordering —
    * what a ranking consumer reads — survives to quantization
    * granularity.
    *
    * Scale: per round exactly two edge-keyed equi-joins (score lookup)
    * + two map-side-combined sums + two scalar-max broadcasts; nothing
    * quadratic, the Pregel shape relationally. Edges deduplicate here;
    * self-loops are legal (a directed graph may have them; on bipartite
    * inputs they cannot arise). Output: one row per node-role —
    * `(id, kind: hub|auth, deg, score_scaled)`; a node that both emits
    * and receives edges gets one row per role.
    */
  def hits(
      edges: DataFrame,
      iters: Int = 4,
      scale: Long = 1000000000L): DataFrame = {
    require(iters >= 1 && iters <= 64, s"iters=$iters out of range [1, 64]")
    require(scale >= 1000L, s"scale=$scale too small for meaningful quantization")
    val e = edges.select(col("src"), col("dst")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // One count fills the persist and measures the per-half-round score
    // join volume for the scoped width bracket below.
    val edgeRows = e.count()
    withRoundWidth(e, edgeRows) {
    val hubs = e.groupBy(col("src")).agg(count(lit(1)).as("odeg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val auths = e.groupBy(col("dst")).agg(count(lit(1)).as("ideg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    def renorm(raw: DataFrame, out: String): DataFrame = {
      val mx = raw.agg(max(col("v")).as("mx"))
      raw.crossJoin(broadcast(mx))
        .select(
          col("id"),
          expr(s"v div greatest(1L, mx div ${scale}L)").as(out))
    }
    var h = hubs.select(col("src").as("id"), lit(scale).as("h"))
    var a: DataFrame = null
    // Eager per-round LINEAGE TRUNCATION: `renorm` references its input
    // twice (max-broadcast side + main side) and the next round joins the
    // result again, so the logical plan DOUBLES per round — ~2^iters
    // re-execution unpersisted (measured 52 s for 4 rounds at sf0.1), and
    // even persisted the exponential logical tree itself blows up analysis
    // (a 2 GiB plan string, then driver OOM). `localCheckpoint(eager)`
    // is the iterative-graph standard (what GraphFrames does): it
    // materializes the node-sized per-round sums as RDD blocks AND resets
    // the plan to a constant-size `LogicalRDD`, so every round analyzes,
    // optimizes, and executes the same two edge-keyed joins.
    for (_ <- 1 to iters) {
      val aRaw = e
        .join(h.select(col("id").as("src"), col("h")), Seq("src"))
        .groupBy(col("dst"))
        .agg(sum(col("h")).as("v"))
        .select(col("dst").as("id"), col("v"))
        .localCheckpoint(true)
      a = renorm(aRaw, "a")
      val hRaw = e
        .join(a.select(col("id").as("dst"), col("a")), Seq("dst"))
        .groupBy(col("src"))
        .agg(sum(col("a")).as("v"))
        .select(col("src").as("id"), col("v"))
        .localCheckpoint(true)
      h = renorm(hRaw, "h")
    }
    val out = h.join(hubs.select(col("src").as("id"), col("odeg")), Seq("id"))
      .select(col("id"), lit("hub").as("kind"), col("odeg").as("deg"),
        col("h").as("score_scaled"))
      .unionByName(
        a.join(auths.select(col("dst").as("id"), col("ideg")), Seq("id"))
          .select(col("id"), lit("auth").as("kind"), col("ideg").as("deg"),
            col("a").as("score_scaled")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    e.unpersist()
    hubs.unpersist()
    auths.unpersist()
    out
    }
  }
}
