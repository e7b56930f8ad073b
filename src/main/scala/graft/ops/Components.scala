package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types.{IntegerType, LongType}
import org.apache.spark.storage.StorageLevel

/** Connected components over a near-duplicate pair table — the clustering
  * step that turns pairwise dedup output (minhashLshPairs,
  * ngramJaccardPairs, embeddingNearDupBlocked) into duplicate GROUPS, so a
  * pipeline can keep one canonical document per cluster instead of
  * reasoning about overlapping pairs.
  *
  * Both variants ([[connectedComponents]], min-label propagation, and
  * [[connectedComponentsStars]], large-star/small-star) run in two
  * phases; the converged labels are the minimum id of each component — a
  * deterministic canonical cluster id.
  *
  * Local phase ([[contracted]]): one pass over the pair relation's own
  * partitions, no shuffle. Each task runs a union-find over the edges it
  * holds and emits one (id, local component min) star edge per id — the
  * idea of Kiveris et al., "Connected Components in MapReduce and
  * Beyond", of contracting what a machine holds before any global round.
  * The star forest keeps every connection the partition had and never
  * has more edges than the partition read (V - C <= E). A component whose
  * edges all sit in one partition leaves this phase already a star; the
  * global phase only has to merge stars that share an id ACROSS
  * partitions. Task memory is primitive arrays over the partition's
  * distinct ids (an open-addressing id table plus id, parent and flag
  * arrays, 21-42 bytes an id), never per edge and never boxed.
  *
  * Star-forest check ([[starNode]]): when the contracted edges are
  * already a forest of stars centred at each component's minimum — the
  * fixed point of both variants' rounds, and what every component whose
  * edges sit in one partition becomes — the call skips the global phase.
  * The check rides in an aggregate the call runs anyway, so it costs at
  * most one job when it fails.
  *
  * Global phase: when the check fails, the variant's own rounds over the
  * contracted edges, unchanged in logic, convergence probe and
  * `maxIters`. A component spans partitions then (pairs hash-partitioned
  * by a shuffle spread almost every component that way), and the round
  * count follows the diameter of the graph of local stars, not of the
  * input.
  *
  * Scale design (100 TB): each global round is keyed shuffle joins and
  * aggregations — no driver-side graph, no per-component state. Each
  * round's state is lineage-TRUNCATED (a cached LogicalRDD over the
  * round's InternalRow RDD): a round's plan references the previous
  * state several times, so without truncation the logical plan grows
  * exponentially in the round number and Catalyst re-analysis — not
  * execution — becomes the cost (observed: 45 s for a 477-node graph,
  * 3 s truncated). Truncation goes through the CacheManager (not
  * localCheckpoint, whose blocks Dataset.unpersist cannot release), so
  * each round frees the previous round's storage.
  *
  * Ownership: every round's cache is the call's own and is freed before
  * it returns. The relation a call RETURNS ([[connectedComponents]],
  * [[connectedComponentsStars]] and [[kCore]]) is [[handedOver]]: a
  * persisted RDD that the caller's open cache scope owns, or, with no
  * scope open, that Spark's ContextCleaner frees once the caller drops
  * the frame. No returned result is a CacheManager entry, which only an
  * explicit unpersist would free and whose lineage would keep every
  * round's shuffles alive with it.
  */
object Components {

  /** Constant-size cached plan over `df`'s result, for state a call
    * reads again and frees itself: a LogicalRDD wrapping the executed
    * plan's InternalRow RDD, persisted through the CacheManager so
    * unpersist() actually frees the blocks (the localCheckpoint
    * alternative truncates lineage too, but its blocks live outside the
    * CacheManager and Dataset.unpersist can't release them). The
    * CacheManager entry lives until that unpersist, so a relation
    * RETURNED to the caller goes through [[handedOver]] instead. Lazy:
    * the first action on the returned frame materializes the cache; a
    * cache miss (executor loss) recomputes through the wrapped RDD's own
    * lineage. */
  private[ops] def truncated(df: DataFrame): DataFrame =
    GraftBridge.internalCreateDataFrame(df.sparkSession,
        df.queryExecution.toRdd, df.schema)
      .persist()

  /** The relation a call returns: `df`'s rows persisted at the RDD level
    * and materialized by one job, as a constant-size LogicalRDD frame
    * that carries the row count. It makes no CacheManager entry: the
    * caller's open cache scope owns the RDD
    * ([[TextKit.registerResult]]), and with none open Spark's
    * ContextCleaner unpersists it, with the shuffles of its lineage,
    * once the caller's frames over it are unreachable. The caches `df`
    * reads may be freed as soon as this returns; a lost block recomputes
    * through `df`'s own lineage. */
  private[ops] def handedOver(df: DataFrame): DataFrame = {
    val rdd = df.queryExecution.toRdd.map(_.copy())
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = rdd.count()
    TextKit.registerResult(rdd)
    GraftBridge.countedDataFrame(df.sparkSession, rdd, df.schema, n)
  }

  /** The local phase shared by both variants: `pairs`' (aCol, bCol)
    * edges contracted partition by partition into star forests, as a
    * cached (src, dst) relation with the input's id type. Lazy, like
    * [[truncated]]; the caller unpersists it once the relations built on
    * it are materialized.
    *
    * Ids are bigint or int; an int/bigint mix widens to bigint, as the
    * undirected unions of the global phase always did. A pair with a
    * NULL endpoint connects nothing: it is kept as (id, NULL) once per id
    * and partition (and (NULL, NULL) once), so the NULL "node" gets the
    * label the global rounds alone would give it. */
  private def contracted(pairs: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val e0 = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
    val Seq(ta, tb) = Seq(aCol -> "src", bCol -> "dst").map { case (name, c) =>
      val t = e0.schema(c).dataType
      require(t == LongType || t == IntegerType,
        s"connected components: id column $name must be bigint or int, " +
          s"got ${t.sql}")
      t
    }
    val e = if (ta == tb) e0
      else e0.select(col("src").cast(LongType).as("src"),
        col("dst").cast(LongType).as("dst"))
    val isLong = ta == LongType || tb == LongType
    GraftBridge.internalCreateDataFrame(e.sparkSession,
        e.queryExecution.toRdd.mapPartitions(rows =>
          new PartitionStars(isLong).contract(rows)),
        e.schema)
      .persist()
  }

  /** Per node of symmetric (src, dst) edges, aggregated under a
    * `groupBy("src")`: whether the node fits a forest of stars centred at
    * each component's minimum. It does when it has at most one distinct
    * smaller neighbour, and a node that has one has no other neighbour, a
    * NULL partner included (then its smallest smaller neighbour equals
    * its largest neighbour). Edges that fit at every node (`bool_and`;
    * an empty edge set reads NULL and fits) are the fixed point of both
    * variants' rounds, and the labels `least(min(dst), src)` are final:
    * a centre's neighbours are all leaves, a leaf's one neighbour is its
    * centre, and a NULL endpoint's partners are all centres. min/max, not
    * counts, so an edge that two partitions both emit counts once. */
  private def starNode: Column = {
    val smaller = min(when(col("dst") < col("src"), col("dst")))
    smaller.isNull ||
      (smaller === max(col("dst")) && !max(col("dst").isNull))
  }

  /** (doc_id, component_id) for every id appearing in `pairs`, where
    * component_id is the minimum doc id of the connected component.
    * Deterministic; only ids present in at least one pair are returned
    * (isolated docs are their own trivial component by definition).
    * Ids are bigint or int (see [[contracted]]); the output columns keep
    * the id type.
    *
    * Local phase: [[contracted]]. Global phase: min-label propagation
    * with pointer jumping over the contracted edges. Every node starts
    * labeled min(itself, its neighbors); each round every node (1) takes
    * the minimum label among itself and its neighbors, then (2) replaces
    * its label with its label's label (pointer jumping — the shortcut
    * step of Shiloach-Vishkin-style CC). Step 1 alone needs diameter
    * rounds; step 2 halves the remaining pointer depth each round, so
    * convergence is O(log diameter) rounds. The seeding aggregation also
    * runs the star-forest check ([[starNode]]) and the first label sum
    * folds it: when the local phase already made every component a star,
    * the seeded labels are final and no round runs (nor when
    * `maxIters` is 0). Each round is two shuffle joins (edges × labels
    * and labels × labels, keyed by id) plus one min-aggregation. The
    * convergence probe exploits monotonicity: labels only ever DECREASE,
    * so the rounds converged exactly when sum(label) stops falling — ONE
    * map-side-combinable aggregate per round (decimal(38,0) sums stay
    * exact at any id range). Peak memory is two label generations plus
    * the edge set.
    *
    * Returns a [[handedOver]] relation (one extra job reads the last
    * label cache once): the caller's open cache scope owns it, and with
    * none open it frees itself once the caller drops it. */
  def connectedComponents(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b", maxIters: Int = 50): DataFrame = {
    val e0 = contracted(pairs, aCol, bCol)
    // undirected: propagate labels both ways. Truncated + cached: edges
    // and labels are re-referenced every round, and constant-size plans
    // keep Catalyst re-analysis out of the per-round cost (see scaladoc).
    val edges = truncated(e0.union(e0.select(col("dst"), col("src"))))
    // seeded init: label(v) = min(v, min(neighbors)) — exactly the state
    // the old identity init reached after round 1's neighbor-min step,
    // for the same one-shuffle cost the identity init paid for its
    // distinct(). Every component converges one round earlier; the
    // monotone-decrease invariant and the final component-min labels are
    // unchanged (labels stay node ids of the same component).
    // The same aggregation flags every node for the star-forest check.
    var labels = truncated(edges.groupBy(col("src")).agg(
        least(min(col("dst")), col("src")).as("label"), starNode.as("star"))
      .select(col("src").as("id"), col("label"), col("star")))
    // exact at any scale: 10^12 ids each up to 10^12 still fit decimal(38,0).
    // sum() over ZERO rows is NULL — an empty pair table is a normal input
    // (a clean corpus has no near-dups), so it must read as 0, not NPE.
    val labelSum =
      sum(col("label").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
    def sumOf(r: Row): java.math.BigDecimal =
      Option(r.getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO)
    // also materializes the initial caches
    val seeded = labels.agg(labelSum, bool_and(col("star"))).head
    var prevSum = sumOf(seeded)
    e0.unpersist(blocking = false)
    var iter = 0
    var converged = seeded.isNullAt(1) || seeded.getBoolean(1)
    while (!converged && iter < maxIters) {
      val prop = edges
        .join(labels.select(col("id").as("src"), col("label")), "src")
        .select(col("dst").as("id"), col("label"))
      // the pointer-jump self-join reads hop on both sides, but both
      // sides are the IDENTICAL aggregate subtree over truncated leaves,
      // so ReuseExchange serves the second side from the first side's
      // shuffle files — one less persist/unpersist round-trip per round
      // than the previous truncated-hop form, and only the post-shuffle
      // final aggregation evaluates twice (same shuffle data, no extra
      // network or label generation held in memory)
      val hop = labels.select(col("id"), col("label")).union(prop)
        .groupBy(col("id")).agg(min(col("label")).as("label"))
      // pointer jump: follow the label one more step (labels are node ids,
      // so every label resolves; coalesce is belt-and-braces for roots)
      val next = truncated(hop.as("x")
        .join(hop.select(col("id").as("lid"), col("label").as("llabel")).as("y"),
          col("x.label") === col("y.lid"), "left")
        .select(col("x.id"), coalesce(col("y.llabel"), col("x.label")).as("label")))
      // labels only ever decrease, so an unchanged sum means NO label
      // moved — one aggregate action (which also materializes next's
      // cache), no per-round probe join
      val curSum = sumOf(next.agg(labelSum).head)
      converged = curSum.compareTo(prevSum) == 0
      prevSum = curSum
      labels.unpersist(blocking = false)
      labels = next
      iter += 1
    }
    edges.unpersist(blocking = false)
    // with pointer jumping, maxIters=50 covers diameters up to ~2^50 —
    // hitting it means something is wrong; wrong labels must not be
    // returned silently. Free the last round's cache on the failure path
    // too: a caller that catches and retries must not leak blocks only a
    // full clearCache() could reclaim.
    if (!converged) labels.unpersist(blocking = false)
    require(converged,
      s"connectedComponents did not converge in $maxIters rounds")
    // callers usually aggregate over the labels repeatedly, so they get
    // them persisted — handed over, since the round cache would live in
    // the CacheManager until someone unpersists it
    val out = handedOver(
      labels.select(col("id").as("doc_id"), col("label").as("component_id")))
    labels.unpersist(blocking = false)
    out
  }

  /** Alternating large-star / small-star connected components (Kiveris
    * et al., "Connected Components in MapReduce and Beyond") — the
    * variant that SHRINKS the edge set as it converges. Prefer it over
    * [[connectedComponents]] when edges far outnumber nodes (a dup-heavy
    * pair table): min-label propagation pays the FULL edge relation in
    * every round's join, while these star operations rewrite the edge
    * set itself, so each round's shuffle tracks the current — rapidly
    * contracting — edge count. Same output contract as
    * [[connectedComponents]].
    *
    * Local phase: [[contracted]] — the same star contraction the global
    * rounds perform, done inside each partition with no shuffle. The node
    * universe is read from the same cached contracted relation, so the
    * pair lineage runs once. The aggregate that counts the symmetric
    * edges also runs the star-forest check ([[starNode]]): when every
    * component left the local phase a star centred at its minimum (a
    * partition held whole components), the edges are the rounds' fixed
    * point and no round runs (nor when `maxIters` is 0); a failed check
    * costs one job, the per-node shuffle under the count.
    *
    * Global phase: one round = large-star then small-star, each a
    * groupBy-min plus a projection over the symmetric edge set:
    *  - large-star: every node u connects each LARGER neighbor to
    *    min(N(u) ∪ u) — long chains shortcut toward small ids;
    *  - small-star: every node u connects its smaller-or-equal
    *    neighborhood (and itself) to that minimum — stars flatten.
    * Both preserve connectivity; alternation converges to a forest of
    * stars whose centers are the component minima. Convergence probe:
    * the (distinct) edge set is unchanged — a count, and an except only
    * when the count matches. Rounds run until that probe holds, as long
    * as stars from different partitions share ids. Same
    * lineage-truncation discipline as connectedComponents (each round
    * re-references the previous edge set several times). Returns a
    * [[handedOver]] relation, like [[connectedComponents]]; here the
    * hand-over is the job that materializes the labels. */
  def connectedComponentsStars(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b", maxIters: Int = 50): DataFrame = {
    val e00 = contracted(pairs, aCol, bCol)
    // node universe BEFORE the self-edge filter: a doc appearing only in
    // a reflexive pair (42, 42) is its own trivial component and must be
    // labeled, exactly as connectedComponents labels it (the contraction
    // keeps such a pair; any other id is an endpoint of a star edge)
    val allNodes = e00.select(col("src").as("id"))
      .union(e00.select(col("dst"))).distinct()
    val e0 = e00.filter(col("src") =!= col("dst"))
    def symmetric(df: DataFrame): DataFrame =
      df.union(df.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
    var edges = truncated(symmetric(e0))
    // the previous round's count is already known — carrying it in a
    // var saves one count job per round (edges is cached; the count was
    // pure bookkeeping). The first count sums per-node edge counts, so
    // the star-forest check shares its aggregate.
    val probe = edges.groupBy(col("src"))
      .agg(count(lit(1)).as("n"), starNode.as("star"))
      .agg(sum(col("n")), bool_and(col("star"))).head
    var nEdges = if (probe.isNullAt(0)) 0L else probe.getLong(0)
    var iter = 0
    var converged = probe.isNullAt(1) || probe.getBoolean(1)
    while (!converged && iter < maxIters) {
      // large-star: for each directed (src, dst > src): (dst, m) with
      // m = min over src's FULL neighborhood (and src itself)
      val mins = edges.groupBy(col("src"))
        .agg(least(min(col("dst")), col("src")).as("mn"))
      val ls = truncated(symmetric(
        edges.join(mins, "src")
          .filter(col("dst") > col("src"))
          .select(col("dst").as("src"), col("mn").as("dst"))
          .filter(col("src") =!= col("dst"))))
      // small-star: each node links its smaller neighbors AND itself to
      // the minimum of its smaller neighborhood
      val sm = ls.filter(col("dst") < col("src"))
      val smins = sm.groupBy(col("src")).agg(min(col("dst")).as("mn"))
      val ss = truncated(symmetric(
        sm.join(smins, "src")
          .filter(col("dst") =!= col("mn"))
          .select(col("dst").as("src"), col("mn").as("dst"))
          .union(smins.select(col("src"), col("mn").as("dst")))
          .filter(col("src") =!= col("dst"))))
      // set equality of distinct relations: same count and no novel edge
      // (&& short-circuits, so the except anti-join runs only on a
      // count match — usually just the final round)
      val nSS = ss.count()
      converged = nSS == nEdges && ss.except(edges).isEmpty
      ls.unpersist(blocking = false)
      edges.unpersist(blocking = false)
      edges = ss
      nEdges = nSS
      iter += 1
    }
    // failure path frees every cache this call created (edges is the
    // current round's relation; e00 backs the root computation)
    if (!converged) {
      edges.unpersist(blocking = false)
      e00.unpersist(blocking = false)
    }
    require(converged,
      s"connectedComponentsStars did not converge in $maxIters rounds")
    // converged star forest (the rounds', or the contraction's when the
    // check passed): every non-root has exactly one (larger -> smaller)
    // edge, to its component's minimum; roots label themselves
    val nonRoot = edges.filter(col("src") > col("dst"))
      .select(col("src").as("id"), col("dst").as("label"))
    val roots = allNodes.join(nonRoot.select(col("id")), Seq("id"),
        "left_anti")
      .select(col("id"), col("id").as("label"))
    // handedOver materializes the labels BEFORE their inputs are dropped —
    // otherwise the caller's first action re-runs the final round's joins
    // and the contraction through lineage with the caches already gone
    val out = handedOver(nonRoot.union(roots)
      .select(col("id").as("doc_id"), col("label").as("component_id")))
    edges.unpersist(blocking = false)
    e00.unpersist(blocking = false)
    out
  }

  /** Keep at most `m` deterministic representatives per cluster — the
    * consumer that turns a (doc_id, component_id) labeling
    * ([[connectedComponents]], [[graft.ops.Similarity.semanticClusters]],
    * q62's duplicate clusters) into a curated keep-set: within each
    * component, documents rank by their md5 hash (reproducible on any
    * partitioning — no rand(), no arrival order) and the `m`
    * smallest-ranked survive. Output: (component_id, doc_id, rank).
    *
    * Scale shape: one bounded per-cluster top-k aggregation
    * ([[TopKAgg]]'s map-side-combinable kit — no task ever holds more
    * than m rows per component), so a mega-cluster costs its row count
    * once, never a per-cluster sort. */
  def capPerCluster(labeled: DataFrame, m: Int = 2): DataFrame = {
    require(m >= 1, s"capPerCluster: m must be positive (got $m)")
    TopKAgg.topKPerQueryAsc(
        labeled.select(col("component_id"), col("doc_id"),
          TextKit.md5Long(col("doc_id")
            .cast(org.apache.spark.sql.types.StringType)).as("hkey")),
        "component_id", "doc_id", "hkey", m)
      .select(col("component_id"), col("neighbor_id").as("doc_id"),
        col("rank"))
  }

  /** Duplicate-cluster summary over a pair table: one row per component
    * with its canonical (minimum) doc id and member count — the shape a
    * keep-one-per-cluster dedup filter consumes. */
  def clusters(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b"): DataFrame =
    connectedComponents(pairs, aCol, bCol)
      .groupBy(col("component_id"))
      .agg(count(lit(1)).as("n_members"))

  /** Triangle count over an ordered pair table (doc_a < doc_b): two
    * edge joins — e1(a,b) ⋈ e2(b,c) ⋈ e3(a,c) — over the PERSISTED
    * edge list, so the (possibly expensive) pair generator runs once,
    * not once per join leg. Ordered edges count each triangle exactly
    * once; cost tracks Σ deg² of the pair graph, bounded by the band
    * caps that produced it — never corpus-quadratic. */
  def triangleCount(pairs: DataFrame): DataFrame = {
    val e = TextKit.tracked(
      pairs.select(col("doc_a").as("a"), col("doc_b").as("b")))
    val e2 = e.select(col("a").as("b2"), col("b").as("c"))
    val e3 = e.select(col("a").as("a3"), col("b").as("c3"))
    e.join(e2, col("b") === col("b2"))
      .join(e3, col("a") === col("a3") && col("c") === col("c3"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** k-core of the undirected pair graph: iteratively peel every node of
    * degree < k until fixpoint; returns (doc_id, degree) for the
    * surviving nodes with their degree INSIDE the core. The k-core is
    * the standard density filter over a near-dup graph — a pendant pair
    * of documents is circumstantial, a 2-core member sits in a cycle of
    * mutual near-duplicates (boilerplate families, template farms) and
    * is what a curation pass escalates on.
    *
    * Scale shape: each round is one degree aggregation plus two
    * semi-joins over a SHRINKING edge relation — per-round work tracks
    * surviving edges (bounded by the band caps that produced the
    * pairs), and the round count is the peeling depth of the graph
    * (tiny for near-dup graphs: clusters are near-cliques, which peel
    * in one round or survive whole). Round state is lineage-truncated
    * and cached exactly as in [[connectedComponents]] — constant-size
    * plans, two edge generations in memory. Fixpoint is detected by
    * the (monotone-decreasing) edge count; hitting `maxIters` fails
    * loudly rather than returning a half-peeled graph. The degrees are
    * computed before the call returns and [[handedOver]], like
    * [[connectedComponents]]' labels; the last round's edges are freed. */
  def kCore(pairs: DataFrame, k: Int, maxIters: Int = 30): DataFrame = {
    require(k >= 1, s"kCore: k must be >= 1, got $k")
    val e0 = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .distinct()
    var edges = truncated(e0.union(e0.select(col("dst"), col("src"))))
    var nEdges = edges.count()
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      // degree >= k survivors; both endpoints must survive for the edge to
      val keep = truncated(edges.groupBy(col("src"))
        .agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src").as("id")))
      val next = truncated(edges
        .join(keep.select(col("id").as("src")), Seq("src"), "left_semi")
        .join(keep.select(col("id").as("dst")), Seq("dst"), "left_semi")
        .select(col("src"), col("dst")))
      val nNext = next.count()
      converged = nNext == nEdges
      keep.unpersist(blocking = false)
      edges.unpersist(blocking = false)
      edges = next
      nEdges = nNext
      iter += 1
    }
    if (!converged) edges.unpersist(blocking = false)
    require(converged, s"kCore did not reach fixpoint in $maxIters rounds")
    val out = handedOver(edges.groupBy(col("src").as("doc_id"))
      .agg(count(lit(1)).as("degree")))
    edges.unpersist(blocking = false)
    out
  }

  /** Synchronous label propagation (Raghavan et al. 2007) over the
    * undirected pair graph, made fully DETERMINISTIC: every node starts
    * labeled with itself, and each round takes the neighbor label with
    * the highest frequency, ties broken toward the SMALLEST label —
    * argmax computed as `max(struct(cnt, -label))`, a pure keyed
    * aggregation (no window, no randomized visit order). A FIXED
    * synchronous round count (default 3, like [[Centrality.pagerank]])
    * keeps the DuckDB oracle an exact unrolled mirror.
    *
    * Communities refine connectivity: labels only travel along edges,
    * so two nodes sharing a label always share a component, but a
    * component can split into several denser communities — the lens CC
    * can't give (a giant chained component of template families stays
    * ONE component while LPA separates the families).
    *
    * Scale shape: per round, one keyed edge-label join + two keyed
    * aggregations over the pair relation — cost tracks EDGES (bounded
    * by the band caps that produced them), state is one (node, label)
    * row per node, rounds are lineage-truncated and cached exactly as
    * in [[connectedComponents]]. */
  def labelPropagation(pairs: DataFrame, iters: Int = 3,
      aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame = {
    require(iters >= 1, s"labelPropagation: iters must be >= 1, got $iters")
    val e = TextKit.register(truncated(
      pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
        .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))))
    var labels = e.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    // Unlike connectedComponents, each LPA round references the previous
    // labels exactly ONCE (the edge-label join), so the unrolled plan
    // grows linearly, not 4^round — at the fixed default of 3 rounds the
    // whole chain stays one small tree over the truncated edge leaf.
    // Executing it as ONE job (no per-round truncation) drops 3
    // materialization jobs and 3 cache write/read round-trips per call;
    // convergence never needs probing because the round count is fixed.
    for (_ <- 1 to iters) {
      labels = e
        .join(labels.select(col("node").as("dst"), col("label")), Seq("dst"))
        .groupBy(col("src"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("src"))
        .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"))
        .select(col("src").as("node"), (-col("m.nl")).as("label"))
    }
    labels.select(col("node").as("doc_id"), col("label").as("community"))
  }
}

/** One partition's union-find for [[Components.contracted]]: every id the
  * partition holds, linked toward the smallest id of its local component,
  * emitted as one star edge per id. All state is primitive arrays over
  * the DISTINCT ids — an open-addressing table of id indexes (load
  * <= 1/2), plus per-index id, parent and flag arrays, grown by doubling —
  * so a task never buffers its edges and never boxes an id. */
private[ops] final class PartitionStars(isLong: Boolean) {
  private final val Joined = 1 // a root that another root was linked under
  private final val NullNeighbor = 2 // paired with a NULL endpoint

  private var slots = new Array[Int](64) // index + 1 per slot, 0 = empty
  private var ids = new Array[Long](32)
  private var parent = new Array[Int](32)
  private var flags = new Array[Byte](32)
  private var n = 0
  private var nullPair = false // a (NULL, NULL) pair was read

  private def slotOf(id: Long): Int = {
    val mask = slots.length - 1
    // murmur3 fmix64: sequential ids must not cluster in the table
    var h = id
    h = (h ^ (h >>> 33)) * 0xff51afd7ed558ccdL
    h = (h ^ (h >>> 33)) * 0xc4ceb9fe1a85ec53L
    var s = (h ^ (h >>> 33)).toInt & mask
    while (slots(s) != 0 && ids(slots(s) - 1) != id) s = (s + 1) & mask
    s
  }

  /** Index of `id`, added as its own root on first sight. */
  private def index(id: Long): Int = {
    val s = slotOf(id)
    if (slots(s) != 0) return slots(s) - 1
    if (n == ids.length) {
      ids = java.util.Arrays.copyOf(ids, 2 * n)
      parent = java.util.Arrays.copyOf(parent, 2 * n)
      flags = java.util.Arrays.copyOf(flags, 2 * n)
    }
    ids(n) = id
    parent(n) = n
    slots(s) = n + 1
    n += 1
    if (2 * n > slots.length) {
      slots = new Array[Int](2 * slots.length)
      var i = 0
      while (i < n) { slots(slotOf(ids(i))) = i + 1; i += 1 }
    }
    n - 1
  }

  private def find(i0: Int): Int = {
    var i = i0
    while (parent(i) != i) { // path halving
      parent(i) = parent(parent(i))
      i = parent(i)
    }
    i
  }

  /** Link the two roots, the smaller id on top: every root is its local
    * component's minimum. */
  private def union(a: Int, b: Int): Unit = {
    val ra = find(a)
    val rb = find(b)
    if (ra != rb) {
      val top = if (ids(ra) < ids(rb)) ra else rb
      parent(if (top == ra) rb else ra) = top
      flags(top) = (flags(top) | Joined).toByte
    }
  }

  private def add(row: InternalRow): Unit = {
    val aNull = row.isNullAt(0)
    val bNull = row.isNullAt(1)
    def id(ord: Int): Int =
      index(if (isLong) row.getLong(ord) else row.getInt(ord).toLong)
    if (aNull && bNull) nullPair = true
    else if (aNull || bNull) {
      val i = id(if (aNull) 1 else 0)
      flags(i) = (flags(i) | NullNeighbor).toByte
    } else union(id(0), id(1))
  }

  /** Consume the partition's (src, dst) rows, then emit its star forest:
    * (id, root) for every non-root id; (root, root) for a root with no
    * other member and no NULL partner (it came from a self-pair);
    * (id, NULL) for an id that had a NULL partner; (NULL, NULL) once if
    * such a pair was read. Every emitted edge answers for at least one
    * distinct edge read, so the output is never larger than the input. */
  def contract(rows: Iterator[InternalRow]): Iterator[InternalRow] = {
    rows.foreach(add)
    var i = 0
    while (i < n) { parent(i) = find(i); i += 1 }
    val out = new SpecificInternalRow(
      Seq.fill(2)(if (isLong) LongType else IntegerType))
    def set(ord: Int, v: Int): Unit =
      if (v < 0) out.setNullAt(ord)
      else if (isLong) out.setLong(ord, ids(v))
      else out.setInt(ord, ids(v).toInt)
    // pass k emits edge k % 2 of index k / 2: 0 = star or self edge,
    // 1 = NULL-partner edge; k == 2n is the (NULL, NULL) pair
    def emits(k: Int): Boolean =
      if (k == 2 * n) nullPair
      else {
        val j = k / 2
        if (k % 2 == 1) (flags(j) & NullNeighbor) != 0
        else parent(j) != j || (flags(j) & (Joined | NullNeighbor)) == 0
      }
    Iterator.range(0, 2 * n + 1).filter(emits).map { k =>
      val j = k / 2
      if (k == 2 * n) { set(0, -1); set(1, -1) }
      else if (k % 2 == 1) { set(0, j); set(1, -1) }
      else { set(0, j); set(1, parent(j)) }
      out
    }
  }
}
