package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions._

/** Distributed kNN-graph construction (NN-Descent) and batch beam
  * search over the graph — the Spark-native re-expression of the
  * reference's HNSW serving index (weaviate/client.py:47-57,
  * `"hnsw": {m=32, efConstruction=128}`).
  *
  * HNSW itself is a sequential, pointer-chasing, online structure; a
  * 1000-executor batch engine gets the same *capability* — a navigable
  * neighborhood graph plus graph-guided search — from two set-oriented
  * pieces, each a bounded sequence of joins and bounded-heap top-k
  * aggregations:
  *
  *  1. [[buildGraph]] — NN-Descent (Dong et al., WWW'11 — public
  *     algorithm): seed each node's neighbor list from LSH band buckets
  *     (the engine's existing hyperplane signatures, so the init is
  *     already similarity-biased, deterministic, and skew-capped), then
  *     iterate "a neighbor of my neighbor is likely my neighbor":
  *     every node proposes all pairs among its (bounded) undirected
  *     neighborhood, proposals are scored once, and each node keeps its
  *     top-K. Every round is shuffle-bounded: candidate volume is
  *     O(N · R²) with R the neighborhood cap, independent of corpus
  *     width, and each round ends in one bounded-heap top-K per node.
  *  2. [[graphSearch]] — batch beam search: all queries walk the graph
  *     TOGETHER, one frontier-expansion join per hop (not one walk per
  *     query): frontier ⋈ edges → score against the query → keep the
  *     best `beam` visited per query. H hops = H keyed joins; the scan
  *     side reads only candidate ids' vectors.
  *
  * At 100 TB: graph build is the standard pre-compute for SemDeDup-ish
  * corpus diversity, graph clustering, and kNN-classification passes —
  * per-round cost is linear in N (R² is a constant), every join is
  * keyed on node id (co-partitionable), and the per-node state (K
  * neighbors) is index-shaped output, written once, reused by every
  * downstream search. Beam search reads the edge table as a keyed
  * side; with the edge table bucketed by src the hop joins are
  * shuffle-free.
  *
  * Deterministic everywhere: LSH planes are the fixed seed-42 literals
  * ([[Ann.planes]]), all top-k keeps order by (score desc, id asc)
  * ([[graft.functions.TopKAgg]]), and pair proposal enumerates ordered
  * positions. Two builds over the same corpus are bit-identical
  * (asserted in KnnGraphSpec).
  *
  * Convergence honesty (r8 re-measured, after the init was made
  * LINEAR in N — see [[initEdges]]): NN-Descent's premise — a
  * neighbor of a neighbor is likely a neighbor — holds on data with
  * low intrinsic dimension (real text/image embedding manifolds). On
  * the synthetic near-random 64-dim test vectors the premise is weak:
  * neighbor recall reaches ≈0.74 at 480 nodes and ≈0.43 at 2 k
  * (tools.GraphProbe shows the plateau is the descent fixed point —
  * <4% of missed true edges lie within 2 hops — not an implementation
  * artifact). The USER-FACING metric is beam-search recall, and that
  * is governed by entry quality and walk reach, not neighbor recall
  * alone: with LSH entry slices + a 64-beam/8-hop walk it measures
  * 0.83 at 2 k near-random nodes (vs 0.505 for plain LSH over the
  * same signatures) and — with the r10 RobustPrune edge
  * diversification, the √N auto-beam (see [[Beam]]) and the r13
  * expand-once frontier (ef-search's pop-at-most-once, see
  * [[graphSearch]]) and every-round diversification
  * ([[DiversifyRounds]], r13) — 0.910 at the 200 k-node clustered
  * decade corpus at default hops (0.935 at hops=12; 0.42 in r8; IVF
  * reads 0.99 there by scanning whole cells exactly and remains this
  * library's primary serving path). Beam/Hops are the ef-analog
  * tuning knobs; per-query cost is O(√N) under the auto-beam,
  * constant in N at any fixed beam.
  */
object KnnGraph {
  /** Out-degree kept per node (HNSW's `m`-analog). */
  val K = 8
  /** NN-Descent refinement rounds: empirically 2-3 rounds reach
    * high-0.9s neighbor recall from an LSH-seeded init (the init
    * already places most true neighbors within two hops). */
  val Iters = 4
  /** Undirected-neighborhood cap during refinement (proposal volume is
    * R² per node — the efConstruction-analog knob). */
  val R = 20
  /** Minimum search beam width per query (the ef-analog). The default
    * `beam = AutoBeam` auto-sizes to max(Beam, ⌈√N⌉) — the same √N
    * lever as IVF's centroid count, and for the same reason: the r10
    * miss diagnosis at the 200 k clustered decade corpus showed the
    * walk REACHES the right region (mean exact10th−found10th score gap
    * 0.0027) but the true top-k hide among thousands of near-tie
    * near-dups that 8 edges/node cannot enumerate — a *local
    * exhaustiveness* bound, not a navigation bound, so it scales with
    * neighborhood size (∝√N under the clustered-growth regime the
    * decade corpus models), not with hops. Measured there (diversified
    * graph, hops=8): beam 64 → 0.43 recall@10, 256 → 0.605, √N≈448 →
    * 0.715 — 0.850 once the walk expands each node at most once (the
    * r13 ef-search fix in [[graphSearch]]) and 0.910 with every build
    * round diversified ([[DiversifyRounds]]; 0.935 at hops=12).
    * Per-query cost is O(beam·degree·hops) = O(√N) — sub-linear, vs
    * IVF's nprobe·N/√N = O(√N) scan. */
  val Beam = 64

  /** Sentinel for [[graphSearch]]'s `beam`: resolve to max([[Beam]],
    * ⌈√N⌉) from the corpus size the search already computes. */
  val AutoBeam = -1
  /** Frontier-expansion hops; each hop is one keyed join. Must cover
    * the graph-distance from an LSH entry to the query's true
    * neighborhood, which grows with cluster size — 8 hops ≈ diameter
    * of a 3 k-node degree-8 neighborhood, the regime the x100 decade
    * corpus actually produces. Fixed hops keeps the batch plan bounded
    * and replans nothing. */
  val Hops = 8
  /** Entry points per query: the graph's fixed seed nodes (smallest
    * ids — index-time metadata, same role as HNSW's entry point). */
  val NSeeds = 8

  /** Top-k out-edges per src over a (src, dst, score) candidate frame
    * that MAY contain duplicate (src, dst) rows — the id-distinct heap
    * collapses them in the same single aggregation pass that does the
    * top-k, so no dedupe shuffle runs ahead of it. */
  private def topKEdges(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("src")
      .agg(TopKAgg.topKByDistinct(col("score"), col("dst"), k).as("tk"))
      .select(col("src"), explode(col("tk")).as("e"))
      .select(col("src"), col("e.id").as("dst"), col("e.score").as("score"))

  /** RobustPrune α for [[diversifyEdges]] (the DiskANN default): keep
    * candidate c only while no kept b is α-fold closer to c than the
    * pivot is; α > 1 retains some longer edges, the knob that makes
    * greedy search distance halve per hop instead of creeping. */
  val Alpha = 1.2

  /** Diversified pruning of a per-node candidate pool down to ≤k
    * out-edges — the public DiskANN/HNSW edge-selection rule
    * (Subramanya et al. RobustPrune; Malkov & Yashunin §4 "heuristic"
    * select), run as the *sequential kept-only greedy* inside a
    * bounded aggregate ([[graft.functions.RobustPruneExpr]]): a
    * converged plain-kNN graph over clustered data spends all k slots
    * on one near-dup clique and the walk cannot traverse between
    * sub-regions (measured 0.42 recall@10 at the 200 k clustered
    * corpus); the greedy keeps the first candidate of each *direction*
    * instead, so the degree budget spans distance scales. The pool is
    * the id-distinct top-r per node (one aggregation), candidate
    * vectors arrive by one keyed join (O(N·r) rows), and the prune
    * itself is per-group local — no pair join, no window. */
  private def diversifyEdges(cands: DataFrame, emb: DataFrame, k: Int,
                             r: Int, alpha: Double = Alpha): DataFrame =
    cands.groupBy("src")
      .agg(TopKAgg.topKByDistinct(col("score"), col("dst"), r).as("tk"))
      .select(col("src"), explode(col("tk")).as("e"))
      .select(col("src"), col("e.id").as("dst"), col("e.score").as("score"))
      .join(emb.select(col("id").as("dst"), col("vec")), Seq("dst"))
      .groupBy("src")
      .agg(RobustPruneAgg.prune(col("score"), col("dst"), col("vec"),
        k, r, alpha).as("tk"))
      .select(col("src"), explode(col("tk")).as("e"))
      .select(col("src"), col("e.id").as("dst"), col("e.score").as("score"))

  /** All unordered pairs among a gathered `(id, vec)` member array,
    * scored ONCE per pair and emitted in BOTH directions — the in-row
    * form of a within-group scored self-join (guide §2.3: shuffle keys
    * and small payloads, not the N·R² pair stream). The enumeration
    * order of `mv` is irrelevant: the unordered-pair SET is what it
    * defines, cosine is symmetric, and every consumer is an
    * order-insensitive bounded heap — asserted bit-identical to the
    * join-scored reference in Round17Spec. Computed by the codegen'd
    * [[graft.functions.ScoredPairsExpr]] kernel (a HOF enumeration here
    * costs an interpreted lambda + expression tree per pair — measured
    * 14.8 s vs 7.6 s build task time at sf0.1); [[scoredPairsWithinHof]]
    * is the declarative spec it must equal. */
  private def scoredPairsWithin(mv: Column): Column =
    graft.functions.native.scoredPairs(mv)

  /** HOF formulation of [[scoredPairsWithin]] — the semantic spec the
    * kernel is asserted against (Round17Spec). */
  private[graft] def scoredPairsWithinHof(mv: Column): Column = {
    val pairs = flatten(transform(mv, (x, i) =>
      transform(slice(mv, i.cast("int") + 2, size(mv)), y =>
        struct(x("id").as("a"), y("id").as("b"),
          cosine(x("vec"), y("vec")).as("score")))))
    filter(
      flatten(transform(pairs, p => array(
        struct(p("a").as("src"), p("b").as("dst"), p("score").as("score")),
        struct(p("b").as("src"), p("a").as("dst"), p("score").as("score"))))),
      p => p("src") =!= p("dst"))
  }

  /** Pseudo-random expander-group size for the init's diversification
    * channel (see [[initEdges]]). */
  val RandGroup = 12

  /** Sub-group size for the LSH channel's bucket split (see
    * [[initEdges]]): larger than [[RandGroup]] because these pairs are
    * the similarity-biased seed material — volume is N·LshGroup·bands
    * either way (linear), and G=24 keeps the split a no-op at the
    * small verify corpora. */
  val LshGroup = 24

  /** Entry-slice size per band bucket for query-adaptive search entry
    * (see [[graphSearch]]) — the ef-analog breadth knob: each query
    * scores at most NBands·SeedGroup LSH-sliced entries before the
    * walk, a constant per query at every corpus size. Wider than the
    * build-side [[LshGroup]] because entry quality directly bounds
    * search recall, and the cost is per-query, not per-corpus. */
  val SeedGroup = 64

  /** Seed edges from two channels, unioned:
    *
    *  - LSH band buckets ([[Ann]]'s hyperplane signatures): nodes
    *    sharing a band bucket propose each other — similarity-biased,
    *    so the init already contains most easy neighbors. There are
    *    only 2^BandBits buckets per band, so bucket occupancy grows
    *    LINEARLY with N and a raw within-bucket self-join is Σc² ≈
    *    N²/2^BandBits per band — quadratic (measured: at 200 k nodes
    *    the raw join spilled the disk full and died in the r8 decade
    *    validation). Each bucket is therefore hash-split into
    *    sub-groups of ~[[LshGroup]] members (band-seeded hash, so a
    *    node meets a different slice of its bucket in every band):
    *    proposals stay similarity-biased but volume is N·G·bands —
    *    linear, the same bound as the random channel.
    *  - hash-random groups of ~[[RandGroup]] nodes (xxhash64 of id —
    *    independent of geometry): within-group pairs are effectively
    *    random edges, and a random bounded-degree graph is an expander
    *    — every node is a few hops from every cluster. Without this
    *    channel NN-Descent provably stalls: descent only explores
    *    through existing edges, so a node whose whole LSH bucket sits
    *    in the wrong cluster can never escape it (measured: score-mass
    *    ratio 0.96 LSH-only → ≥0.99 with the random channel).
    *
    * Each node keeps its top-k of the union. The group counts need N,
    * obtained by one count() — a scalar job over ids only, same
    * documented pattern as [[Ann.fitCentroids]]'s driver-side pinning.
    *
    * Within-group pair scoring is IN-ROW (r17, guide §2.3): each
    * group's (id, vec) members are gathered into one array by the
    * grouping aggregation itself and [[scoredPairsWithin]] enumerates
    * the ordered pairs — the old within-group self-join exchanged the
    * full vector payload on BOTH join sides (2·N·bands·dim bytes) to
    * produce the same group-local pairs; the gather moves each vector
    * across the exchange once. `joinScored = true` keeps the reference
    * formulation for the Round17Spec bit-equality assertion. */
  private[graft] def initEdges(emb: DataFrame, k: Int,
                               joinScored: Boolean = false): DataFrame = {
    val n = emb.count()
    val bucketsPerBand = 1L << Ann.BandBits
    val subCount = math.max(1L, n / (bucketsPerBand * LshGroup))
    val banded = emb
      .withColumn("_sig", Ann.signature(col("vec")))
      .select(col("id"), col("vec"), explode(array(
        (0 until Ann.NBands).map(bb =>
          shiftright(col("_sig"), Ann.BandBits * bb)
            .bitwiseAND((1 << Ann.BandBits) - 1) * 100 + bb): _*)).as("bkt"))
      .withColumn("sub", pmod(xxhash64(lit(424242L), col("bkt"), col("id")),
        lit(subCount)))
    val nGroups = math.max(1L, n / RandGroup)
    val grouped = emb.withColumn("g", pmod(xxhash64(lit(777L), col("id")), lit(nGroups)))
    val (lshProposals, randProposals) =
      if (joinScored) (
        banded.as("a")
          .join(banded.as("b"), Seq("bkt", "sub"))
          .filter(col("a.id") =!= col("b.id"))
          .select(col("a.id").as("src"), col("b.id").as("dst"),
            cosine(col("a.vec"), col("b.vec")).as("score")),
        grouped.as("a")
          .join(grouped.as("b"), Seq("g"))
          .filter(col("a.id") =!= col("b.id"))
          .select(col("a.id").as("src"), col("b.id").as("dst"),
            cosine(col("a.vec"), col("b.vec")).as("score")))
      else {
        def gathered(df: DataFrame, keys: String*): DataFrame = df
          .groupBy(keys.map(col): _*)
          .agg(collect_list(struct(col("id"), col("vec"))).as("mv"))
          .select(explode(scoredPairsWithin(col("mv"))).as("p"))
          .select(col("p.src").as("src"), col("p.dst").as("dst"),
            col("p.score").as("score"))
        (gathered(banded, "bkt", "sub"), gathered(grouped, "g"))
      }
    // a pair can arrive via several bands/channels; the id-distinct
    // heap keeps duplicates from crowding out genuine k-th neighbors
    // without a dedupe shuffle ahead of the top-k
    topKEdges(lshProposals.union(randProposals), k)
  }

  /** Refinement rounds that RobustPrune-diversify their keep (the
    * rest keep a plain nearest top-k). Default: every round — the
    * DiskANN shape, where each pass prunes with the α rule. Measured
    * at the 200 k clustered decade corpus (GraphProbe sweep2, r13):
    * search recall@10 at unchanged walk defaults is 0.850 (dr=1) →
    * 0.870 (2) → 0.890 (3) → **0.910 (4)** with build wall and
    * per-search cost UNCHANGED (the prune replaces the top-k
    * aggregate, same shuffle count) and small-corpus search recall
    * flat (1.000 / 0.985 at 480 / 2 k nodes under both settings) —
    * diversifying only the last round left navigability on the
    * table: earlier rounds' plain top-k re-fills slots with near-dup
    * clique members, so proposals never explore ACROSS sub-regions. */
  val DiversifyRounds: Int = Iters

  /** NN-Descent kNN graph over (id, vec). Returns (src, dst, score)
    * with exactly ≤k out-edges per node, score = cosine similarity. */
  def buildGraph(emb0: DataFrame, k: Int = K, iters: Int = Iters,
                 r: Int = R, alpha: Double = Alpha,
                 diversifyRounds: Int = DiversifyRounds,
                 joinScored: Boolean = false): DataFrame = {
    // vectors are read many times across rounds — keep the projection
    // minimal and let each round's join prune to (id, vec)
    val emb = emb0.select(col("id"), col("vec"))
    var edges = initEdges(emb, k, joinScored).localCheckpoint(true)
    for (round <- 1 to iters) {
      // Proposal neighborhood per pivot = its k out-neighbors (best
      // known so far) ∪ a bounded, score-INDEPENDENT sample of its
      // reverse neighbors (hash-ordered, reseeded each round). The
      // reverse side must not be picked by score: a hub node's
      // in-degree far exceeds r, and keeping only its closest
      // in-neighbors would evict exactly the peripheral nodes that
      // need the hub as their pivot — NN-Descent's reverse-sampling
      // rule (Dong et al. §2.3), and measurably the difference between
      // stalling at ~0.75 neighbor recall and converging.
      // Both directions land in ONE aggregation: forward rows carry the
      // score (null h), reversed rows carry the round-reseeded hash
      // (null score), and the null-skipping heaps pull their own side —
      // the out-neighbor top-k and the reverse sample cost one shuffle
      // together instead of two groupBys plus a full outer join.
      val tagged = edges
        .select(col("src"), col("dst"), col("score"),
          lit(null).cast("double").as("h"))
        .union(edges.select(col("dst"), col("src"),
          lit(null).cast("double"),
          xxhash64(lit(round.toLong), col("dst"), col("src")).cast("double")))
      val nb = tagged.groupBy("src")
        .agg(
          TopKAgg.topKBy(col("score"), col("dst"), k).as("otk"),
          TopKAgg.topKBy(col("h"), col("dst"), math.max(r - k, k)).as("rtk"))
        .select(col("src"), array_distinct(concat(
          transform(col("otk"), e => e("id")),
          transform(col("rtk"), e => e("id")))).as("nb"))
      // all ordered pairs among each node's neighborhood are proposals
      // — the NN-Descent step. Repeats across pivots are NOT
      // pre-deduped: scoring a duplicate is cheaper than the distinct
      // shuffle, and the id-distinct heap collapses them at the merge.
      //
      // Pair scoring (r17, guide §2.3): gather each pivot's ≤R member
      // vectors with ONE keyed join + ONE groupBy (N·R rows, N·R·dim
      // bytes across the gather exchange), then enumerate and score
      // the R² pairs IN-ROW (scoredPairsWithin). The old form exploded
      // the N·R² pair stream first and joined it against the corpus
      // TWICE to attach vectors — the second join's input alone
      // carried N·R²·dim bytes (R ≈ 20× more than the gather moves),
      // the dominant shuffle of every round at scale. `joinScored`
      // keeps that reference formulation for the Round17Spec
      // bit-equality assertion (same pair set, same cosines, and every
      // consumer heap is order-insensitive).
      val proposals = roundProposals(nb, emb, joinScored)
      // (src,dst) may appear via several pivot nodes and in the current
      // graph — duplicates carry equal scores by construction, and the
      // id-distinct heap inside topKEdges collapses them, so the merge
      // is ONE aggregation pass (the old groupBy(src,dst) pre-dedupe
      // was a second full shuffle of the same rows).
      // localCheckpoint per round: iterative self-union doubles the
      // lineage otherwise (the dedup_cluster_labels lesson from r4).
      // The LAST `diversifyRounds` rounds keep the full r-pool and
      // diversify-prune it to k (see diversifyEdges); by default that
      // is EVERY round (see [[DiversifyRounds]]) — each proposal pass
      // then explores THROUGH the previous round's diversified
      // (longer) edges, the decade-scale recall lever (VERDICT r12
      // §next-3, extended r13: 0.850 → 0.910 recall@10 at 200 k for
      // free in build wall and search cost).
      edges = (if (round > iters - diversifyRounds)
          diversifyEdges(edges.union(proposals), emb, k, r, alpha)
        else topKEdges(edges.union(proposals), k)).localCheckpoint(true)
    }
    edges
  }

  /** Scored NN-Descent proposals from a (src, nb) neighborhood frame —
    * exposed for the plans/r17 dump tool and the Round17Spec
    * bit-equality assertion. */
  private[graft] def roundProposals(nb: DataFrame, emb: DataFrame,
                                    joinScored: Boolean): DataFrame =
    if (joinScored) {
      val pairs = nb
        .select(posexplode(col("nb")).as(Seq("pa", "a")), col("nb"))
        .select(col("pa"), col("a"), posexplode(col("nb")).as(Seq("pb", "b")))
        .filter(col("pa") < col("pb") && col("a") =!= col("b"))
        .select(col("a"), col("b"))
      val scored = pairs
        .join(emb.withColumnRenamed("id", "a").withColumnRenamed("vec", "va"), Seq("a"))
        .join(emb.withColumnRenamed("id", "b").withColumnRenamed("vec", "vb"), Seq("b"))
        .select(col("a"), col("b"), cosine(col("va"), col("vb")).as("score"))
      scored.select(col("a").as("src"), col("b").as("dst"), col("score"))
        .union(scored.select(col("b").as("src"), col("a").as("dst"), col("score")))
    } else nb
      .select(col("src"), explode(col("nb")).as("mid"))
      .join(emb.select(col("id").as("mid"), col("vec")), Seq("mid"))
      .groupBy("src")
      .agg(collect_list(struct(col("mid").as("id"), col("vec"))).as("mv"))
      .select(explode(scoredPairsWithin(col("mv"))).as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"),
        col("p.score").as("score"))

  /** The [[AutoBeam]] resolution contract, unit-pinned in KnnGraphSpec:
    * an explicit positive beam is taken as-is; the sentinel resolves to
    * max([[Beam]], ⌈√N⌉) — sub-linear per-query cost that keeps recall
    * at decade scale (0.715@200k vs 0.43 at fixed 64, SURVEY §2). */
  /** One row per (node, band): the node's LSH band bucket ids plus the
    * skew-capping sub-slice — the query-adaptive ENTRY TABLE of the
    * walk. Derivable from the node vectors, but at serving scale it is
    * index content: [[writeGraphIndex]] persists it partitioned by bkt
    * so a search scans only its own queries' band directories (DPP),
    * instead of re-scanning + re-hashing the corpus per batch. */
  def nodeBands(nodes: DataFrame, subCount: Long): DataFrame =
    nodes.withColumn("_sig", Ann.signature(col("vec")))
      .select(col("id"), bandsOf(col("_sig")).as("bkt"))
      .withColumn("sub", pmod(xxhash64(lit(424242L), col("bkt"), col("id")),
        lit(subCount)))

  /** The (bucket·100 + band) ids of a signature — same banding as the
    * build init. */
  private def bandsOf(c: Column): Column = explode(array(
    (0 until Ann.NBands).map(bb =>
      shiftright(c, Ann.BandBits * bb)
        .bitwiseAND((1 << Ann.BandBits) - 1) * 100 + bb): _*))

  /** Sub-slices per band bucket at corpus size n: keeps each entry
    * slice ≈ seedGroup nodes, so per-query entry volume is constant
    * in N. Frozen at build time for a persisted index (stored in
    * `_meta`). */
  def subCountOf(n: Long, seedGroup: Int = SeedGroup): Long =
    math.max(1L, n / ((1L << Ann.BandBits) * seedGroup))

  def resolveBeam(beam: Int, n: Long): Int =
    if (beam > 0) beam
    else math.max(Beam, math.ceil(math.sqrt(n.toDouble)).toInt)

  /** The walk state both search formulations share: resolved beam
    * width, the scoring closure, and the scored entry frame. */
  private final case class WalkSetup(bw: Int,
                                     score: DataFrame => DataFrame,
                                     entries: DataFrame)

  private def walkSetup(queries0: DataFrame, emb0: DataFrame,
                        beam: Int, nSeeds: Int, nHint: Long,
                        seedGroup: Int, entriesHint: Option[DataFrame],
                        seedsHint: Option[DataFrame],
                        subCountHint: Long): WalkSetup = {
    // The query frame is re-broadcast in EVERY hop's score() join; as
    // a raw plan each of those broadcast builds re-runs the query
    // subtree (a parquet scan on the ad-hoc path). One eager
    // localCheckpoint up front (Q rows — bounded, never corpus-sized)
    // makes every per-hop broadcast build a read of materialized
    // blocks instead (r16; JobProbe measured the walk at ~100 AQE
    // stage-jobs of ~25 ms, most of them per-hop exchange/broadcast
    // materializations).
    val queries = queries0.localCheckpoint(true)
    val emb = emb0.select(col("id"), col("vec"))
    // fixed entry points (index metadata): the nSeeds smallest node
    // ids. DISTINCT ids, not rows — an at-least-once ingest can leave
    // duplicate node rows (see annIngestStream), and a plain
    // orderBy+limit over duplicates would silently shrink the distinct
    // entry-point set and change exploration. A persisted index
    // carries the seed set in `_meta` (seedsHint) — the ad-hoc path
    // derives it here, once.
    val seeds = seedsHint.getOrElse(
      emb.select(col("id")).distinct().orderBy("id").limit(nSeeds))
    // query-ADAPTIVE entry points (the HNSW descend-to-the-right-
    // region analog, batch form): each query also enters the graph at
    // a bounded LSH slice of each of its band buckets — the same
    // banding and sub-split bound as the build init, so the entry
    // volume is Q·LshGroup·bands regardless of corpus size. Without
    // this, entry is blind: from fixed seeds alone, beam search over a
    // linear-init graph measured 0.43 recall@10 at 2k nodes; LSH entry
    // + the same walk restores the high-recall regime while every per-
    // query cost stays constant in N.
    // N is INDEX METADATA, not something a serving search should scan
    // for: a persisted index carries it in its _meta table
    // ([[writeGraphIndex]]/[[readGraphMeta]]) and passes it as `nHint`,
    // so the serving path runs no job over the node table beyond its
    // hop joins; the ad-hoc (un-persisted) path counts once here.
    val n = if (nHint > 0) nHint else emb.count()
    // resolve the AutoBeam sentinel from the corpus size this search
    // already computes for the entry-slice split (see [[Beam]])
    val bw = resolveBeam(beam, n)
    // the sub-slice split is FROZEN at index-build time for a
    // persisted layout (subCountHint): queries must split the same
    // way the stored band table was split, across appends — the same
    // frozen-fit contract as the IVF `_cent` grid
    val subCount =
      if (subCountHint > 0) subCountHint else subCountOf(n, seedGroup)
    // the banded node table is INDEX CONTENT, not per-search work: a
    // persisted layout stores it partitioned by bkt (entriesHint —
    // the query side then prunes to its own band directories via DPP,
    // the writeIvfIndex pattern); the ad-hoc path computes it here,
    // one corpus scan per call.
    val dBand = entriesHint.getOrElse(nodeBands(emb, subCount))
    val qBand = queries
      .withColumn("_sig", Ann.signature(col("q_vec")))
      .select(col("q_id"), bandsOf(col("_sig")).as("bkt"))
      .withColumn("sub", pmod(xxhash64(lit(515151L), col("bkt"), col("q_id")),
        lit(subCount)))
    val lshEntries = dBand
      .select(col("id"), col("bkt").cast("long").as("bkt"), col("sub"))
      .join(broadcast(qBand), Seq("bkt", "sub"))
      .select(col("q_id"), col("id"))
    // cand is always query-state-bounded (entries: Q·(seeds+LSH
    // slices); hops: Q·beam·degree) while emb is the CORPUS — the
    // broadcast hint pins the build side to the bounded frame so the
    // corpus table is STREAMED, never shuffled, in every hop's scoring
    // join (guide §3.1: the cand side comes from checkpointed RDDs
    // whose size estimates are unusable, so the static planner chose a
    // sort-merge join that re-shuffled emb each hop).
    def score(cand: DataFrame): DataFrame =
      broadcast(cand).join(emb, Seq("id"))
        .join(broadcast(queries), Seq("q_id"))
        .select(col("q_id"), col("id"), cosine(col("q_vec"), col("vec")).as("score"))
    val entries = score(
      broadcast(queries.select(col("q_id"))).crossJoin(seeds.select(col("id")))
        .union(lshEntries))
    WalkSetup(bw, score, entries)
  }

  /** Batch beam search: top-k per query over the graph, all queries
    * advancing one shared frontier-expansion join per hop.
    * `queries` = (q_id, q_vec); `emb` = (id, vec); `edges` = built
    * graph. Returns (q_id, rank, id, score).
    *
    * INCREMENTAL-POOL walk state (r14, VERDICT r13 §next-3 / SURVEY
    * §7.23): each hop's state is ONE row per query — a
    * [[graft.functions.PoolTopK]] struct holding the expanded set
    * (scores kept; they stay final-top-k candidates) and the
    * C_h = max(beam, k)·(hops−h+1) best UNEXPANDED visited. The next
    * frontier is the pool's sorted beam-prefix (no re-aggregation),
    * so per-hop aggregation input and checkpoint volume are
    * O(pool + beam·degree) instead of the cumulative O(hop·beam·degree)
    * the tagged-state walk re-materialized every hop.
    *
    * The cap keeps the walk EXACT, not approximate ([[
    * graphSearchCumulative]] is the equivalence baseline, bit-equality
    * spec'd): a row dropped at hop h ranks below C_h among unexpanded;
    * each later hop expands at most `beam` rows, so its rank can
    * improve by at most beam per hop and stays above beam through hop
    * `hops` — it can never enter a frontier; and since C_h ≥ k rows
    * outrank it forever (scores are immutable, expanded rows stay in
    * the result pool), it can never enter the final top-k either. A
    * dropped row re-discovered by a later expansion re-enters as a
    * fresh visit with the identical score — the same rows the
    * cumulative state never forgot.
    *
    * The expanded side implements HNSW ef-search's pop-at-most-once
    * rule exactly as before (r13: re-expansion starvation measured
    * 0.715 recall@10 at 200 k; expand-once reads 0.910 under the
    * every-round diversification default): the pool aggregate drops an
    * expanded id from the candidate side order-independently, so a
    * re-discovered expanded node never re-enters the frontier. */
  def graphSearch(queries: DataFrame, emb0: DataFrame, edges: DataFrame,
                  k: Int = Knn.K, beam: Int = AutoBeam, hops: Int = Hops,
                  nSeeds: Int = NSeeds, nHint: Long = -1L,
                  seedGroup: Int = SeedGroup,
                  entriesHint: Option[DataFrame] = None,
                  seedsHint: Option[DataFrame] = None,
                  subCountHint: Long = -1L,
                  beamGrowth: Double = 1.0): DataFrame = {
    val s = walkSetup(queries, emb0, beam, nSeeds, nHint, seedGroup,
      entriesHint, seedsHint, subCountHint)
    // beamGrowth > 1 widens the frontier geometrically per hop
    // (VERDICT r15 §next-6's recall lever: late hops are where the
    // walk sits in the true neighborhood, so extra width buys recall
    // there while the early, navigational hops stay cheap); 1.0 is
    // the verified constant-beam default, bit-identical to the prior
    // formulation (Round16Spec)
    def bwAt(hop: Int): Int =
      math.max(1, math.ceil(s.bw * math.pow(beamGrowth, hop - 1.0)).toInt)
    // the exactness cap must cover the WIDEST scheduled frontier: a
    // row dropped at hop h can improve by at most max-beam per later
    // hop, so capUnit uses the schedule's maximum
    val capUnit = math.max((1 to hops).map(bwAt).max, k)
    var state = s.entries.withColumn("x", lit(false))
    // (r16 measured, kept for the record: running this loop with AQE
    // disabled was tried and is SLOWER — 4.06 s vs 2.98 s at sf0.1 —
    // because the per-hop exchange then executes at the static
    // shuffle-partition count instead of AQE-coalescing to the
    // handful of partitions the O(Q·pool)-row state actually needs.)
    for (hop <- 1 to hops) {
      val cap = capUnit * (hops - hop + 1)
      val bw = bwAt(hop)
      // ONE aggregation + checkpoint per hop, over bounded input; the
      // row count out is Q (one struct per query)
      // LAZY localCheckpoint (r17): the returned frame's logical plan
      // is already truncated (a LogicalRDD), which is all the per-hop
      // cut is for — the old EAGER form additionally ran one
      // materialization job per hop, and JobProbe showed the walk's
      // wall is dominated by inter-job planning gaps (53 jobs, Σ job
      // wall 1.1 s vs 3.2 s wall), so deferring materialization into
      // the downstream action removes 8 driver round-trips per walk.
      // The RDD is still computed once (persisted blocks) even though
      // poolRows and expRows both read it.
      val pooled = state.groupBy("q_id")
        .agg(TopKAgg.poolTopK(col("score"), col("id"), col("x"), cap).as("pk"))
        .localCheckpoint(false)
      // frontier = the sorted pool's beam-prefix — same (score desc,
      // id asc) selection frontierTopK made, without a second pass.
      // It is Q·beam rows (bounded, corpus-independent) against the
      // N·K edge table: broadcast the frontier so the edge table is
      // streamed in place, not exchanged every hop (r16, guide §3.1 —
      // same estimate blindness as score()'s cand side).
      val frontier = pooled
        .select(col("q_id"), explode(slice(col("pk.pool"), 1, bw)).as("e"))
        .select(col("q_id"), col("e.id").as("id"))
      val expansion = edges.withColumnRenamed("src", "id")
        .join(broadcast(frontier), Seq("id"))
        .select(col("q_id"), col("dst").as("id"))
      val scored = s.score(expansion).withColumn("x", lit(false))
      // carry-over rows (already-expanded set ∪ this hop's frontier,
      // marked expanded ∪ the pool remainder, unexpanded) come out of
      // ONE generator instead of the old three explodes + three-way
      // union — same rows, a third of the per-hop plan (r17: each AQE
      // stage materialization replans the remaining per-hop tree, so
      // plan size is driver latency here)
      val carry = pooled
        .select(col("q_id"), explode(concat(
          transform(col("pk.exp"),
            e => struct(e("id").as("id"), e("score").as("score"),
              lit(true).as("x"))),
          transform(slice(col("pk.pool"), 1, bw),
            e => struct(e("id").as("id"), e("score").as("score"),
              lit(true).as("x"))),
          transform(slice(col("pk.pool"), bw + 1, cap),
            e => struct(e("id").as("id"), e("score").as("score"),
              lit(false).as("x"))))).as("r"))
        .select(col("q_id"), col("r.id").as("id"),
          col("r.score").as("score"), col("r.x").as("x"))
      state = carry.union(scored)
    }
    // every state row carries its score (expanded included — they are
    // visited nodes), so the final top-k reads them all
    state.groupBy("q_id")
      .agg(TopKAgg.topKByDistinct(col("score"), col("id"), k).as("tk"))
      .select(col("q_id"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rank"),
        col("e.id").as("id"), col("e.score").as("score"))
  }

  /** The pre-r14 cumulative-state walk — kept as the equivalence
    * baseline for the incremental-pool [[graphSearch]] (bit-equality
    * asserted in Round14Spec, the frontierTopK spec pattern): the
    * per-hop state is the ever-growing tagged frame of ALL visited
    * rows plus expansion markers, re-checkpointed whole every hop. */
  private[graft] def graphSearchCumulative(
      queries: DataFrame, emb0: DataFrame, edges: DataFrame,
      k: Int = Knn.K, beam: Int = AutoBeam, hops: Int = Hops,
      nSeeds: Int = NSeeds, nHint: Long = -1L,
      seedGroup: Int = SeedGroup,
      entriesHint: Option[DataFrame] = None,
      seedsHint: Option[DataFrame] = None,
      subCountHint: Long = -1L): DataFrame = {
    val su = walkSetup(queries, emb0, beam, nSeeds, nHint, seedGroup,
      entriesHint, seedsHint, subCountHint)
    val bw = su.bw
    var state = su.entries.withColumn("x", lit(false)).localCheckpoint(true)
    for (hop <- 1 to hops) {
      val frontier = state
        .groupBy("q_id")
        .agg(TopKAgg.frontierTopK(col("score"), col("id"), col("x"), bw).as("tk"))
        .select(col("q_id"), explode(col("tk")).as("e"))
        .select(col("q_id"), col("e.id").as("id"))
      val expansion = frontier
        .join(edges.withColumnRenamed("src", "id"), Seq("id"))
        .select(col("q_id"), col("dst").as("id"))
      val scored = su.score(expansion).withColumn("x", lit(false))
      val markers = frontier
        .select(col("q_id"), col("id"), lit(null).cast("double").as("score"),
          lit(true).as("x"))
      state = (if (hop < hops) state.union(scored).union(markers)
        else state.union(scored)).localCheckpoint(true)
    }
    state.filter(!col("x")).groupBy("q_id")
      .agg(TopKAgg.topKByDistinct(col("score"), col("id"), k).as("tk"))
      .select(col("q_id"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rank"),
        col("e.id").as("id"), col("e.score").as("score"))
  }

  // ---------- dataset-shaped entrypoints (testdata embeddings) ----------

  /** kNN graph over the doc half of the embeddings table, memoized per
    * (dir, k): the graph is an INDEX — built once, reused by every
    * consumer in the session (beam search, recall eval, semantic
    * dedup), the in-session mirror of the [[writeGraphIndex]]
    * build-once contract. Safe to cache: the build is deterministic
    * and the returned edges are localCheckpoint'ed (materialized
    * blocks, not a growing lineage). */
  def docGraph(spark: SparkSession, dir: String, k: Int = K): DataFrame =
    graft.Memo(spark, "doc-graph", dir, k)(
      buildGraph(Knn.docSet(spark, dir)
        .select(col("doc_id").as("id"), col("doc_vec").as("vec")), k))

  /** Graph-ANN search for the standard query set: build (or reuse) the
    * doc graph, beam-search all queries, exact cosine scores. */
  def search(spark: SparkSession, dir: String, k: Int = Knn.K,
             edges: Option[DataFrame] = None): DataFrame = {
    val g = edges.getOrElse(docGraph(spark, dir))
    graphSearch(
      Knn.querySet(spark, dir).select(col("q_id"), col("q_vec")),
      Knn.docSet(spark, dir).select(col("doc_id").as("id"), col("doc_vec").as("vec")),
      g, k)
  }

  /** [[search]] with presentation ordering and rounded scores — the
    * registered `ann_graph_search` query shape (rows-only driver
    * check; no SQL oracle exists for the iterative build). */
  def searchOrdered(spark: SparkSession, dir: String, k: Int = Knn.K): DataFrame =
    search(spark, dir, k)
      .select(col("q_id"), col("rank"), col("id").as("doc_id"),
        rnd(col("score"), 4).as("score"))
      .orderBy("q_id", "rank")

  // ---------- persisted serving index (bucketed layout) ----------

  /** Bucket count for the persisted index tables. Both tables use the
    * same count so a future edge⋈node co-join is also exchange-free. */
  val IndexBuckets = 8

  /** Persists the graph as a serving index: the edge table bucketed by
    * `src` and the node vectors bucketed by `id`. A later search's hop
    * joins and vector lookups then plan WITHOUT an Exchange on the
    * index side — only the tiny per-hop frontier shuffles into the
    * index's layout (asserted in PlanSpec, not assumed). Build once,
    * read by every subsequent search — the same amortization contract
    * as [[Ann.writeIvfIndex]], re-expressed for the graph. */
  def writeGraphIndex(spark: SparkSession, dir: String,
                      name: String = "graft_graph",
                      nBuckets: Int = IndexBuckets): Unit = {
    val nodes = Knn.docSet(spark, dir)
      .select(col("doc_id").as("id"), col("doc_vec").as("vec"))
    Bucketing.writeBucketed(buildGraph(nodes), s"${name}_edges", "src", nBuckets)
    Bucketing.writeBucketed(nodes, s"${name}_nodes", "id", nBuckets)
    val n = nodes.count()
    val subCount = subCountOf(n)
    // the walk's ENTRY TABLE is index content too (r13): persisted
    // partitioned by bkt (≤ 2^BandBits·NBands directories), so a
    // serving search's broadcast query-band side prunes the scan to
    // its own band directories (DPP — the writeIvfIndex pattern)
    // instead of re-scanning and re-hashing the whole node table on
    // EVERY batch
    Bucketing.reclaimOrphanedLocation(spark, s"${name}_bands")
    nodeBands(nodes, subCount).write.mode("overwrite").format("parquet")
      .partitionBy("bkt").saveAsTable(s"${name}_bands")
    val seedIds = nodes.select(col("id")).distinct().orderBy("id")
      .limit(NSeeds).collect().map(_.getLong(0)).toSeq
    writeGraphMeta(spark, name, n, subCount, seedIds, overwrite = true)
  }

  /** Metadata row(s) for a [[writeGraphIndex]] layout — the
    * `_fit`/`_vocab` convention applied to everything the serving
    * search would otherwise scan the corpus for: node count (√N
    * auto-beam), the FROZEN sub-slice split, and the fixed seed ids.
    * The build writes the one full row; every [[appendToGraphIndex]]
    * batch appends a count-only row and the reader sums counts. At
    * bench sizes these are metadata reads; at 100 TB a per-search
    * corpus scan is a serving-path defect (VERDICT r12 §next-2). */
  private def writeGraphMeta(spark: SparkSession, name: String, n: Long,
                             subCount: Long, seeds: Seq[Long],
                             overwrite: Boolean): Unit = {
    import spark.implicits._
    val df = Seq((n, Option(subCount).filter(_ > 0), Option(seeds)))
      .toDF("n", "sub_count", "seeds")
    // appends into a pre-bands single-column layout keep its schema
    val out =
      if (!overwrite && spark.catalog.tableExists(s"${name}_meta") &&
          !spark.table(s"${name}_meta").columns.contains("sub_count"))
        df.select("n")
      else df
    if (overwrite) Bucketing.reclaimOrphanedLocation(spark, s"${name}_meta")
    out.write.mode(if (overwrite) "overwrite" else "append")
      .format("parquet").saveAsTable(s"${name}_meta")
  }

  /** Everything [[searchIndexed]] needs from `_meta`: summed node
    * count, the build-time sub-slice split, and the seed ids — old
    * layouts (or a missing table) degrade field-by-field to the
    * derive-it-from-the-corpus fallbacks. Appended counts can
    * over-count after an at-least-once replay; they only size the √N
    * beam, where drift is benign. */
  final case class GraphMeta(n: Long, subCount: Long, seeds: Option[Seq[Long]])

  def readGraphMetaFull(spark: SparkSession,
                        name: String = "graft_graph"): GraphMeta =
    if (!spark.catalog.tableExists(s"${name}_meta")) GraphMeta(-1L, -1L, None)
    else {
      val t = spark.table(s"${name}_meta")
      val n = t.agg(coalesce(sum("n"), lit(-1L))).head.getLong(0)
      if (!t.columns.contains("sub_count")) GraphMeta(n, -1L, None)
      else {
        val build = t.filter(col("sub_count").isNotNull)
          .select("sub_count", "seeds").collect()
        if (build.isEmpty) GraphMeta(n, -1L, None)
        else GraphMeta(n, build.head.getLong(0),
          Option(build.head.getSeq[Long](1)))
      }
    }

  /** Total node count recorded in the index's `_meta` table, or -1 for
    * a pre-meta layout (the search then falls back to counting — the
    * old behavior, never a wrong answer). */
  def readGraphMeta(spark: SparkSession, name: String = "graft_graph"): Long =
    readGraphMetaFull(spark, name).n

  /** Batch beam search over a [[writeGraphIndex]] layout. Identical
    * results to [[search]] over the same corpus (asserted in
    * KnnGraphSpec); the difference is the plan — the edge and node
    * sides are read pre-bucketed (no index-side shuffle), N, the
    * sub-split and the seeds come from `_meta` (tiny-table reads),
    * and the LSH entry join reads the persisted band table pruned to
    * the queries' own band directories — so the only per-batch jobs
    * touching corpus-sized data are the hop joins themselves. */
  def searchIndexed(spark: SparkSession, dir: String,
                    name: String = "graft_graph", k: Int = Knn.K): DataFrame = {
    import spark.implicits._
    val meta = readGraphMetaFull(spark, name)
    graphSearch(
      Knn.querySet(spark, dir).select(col("q_id"), col("q_vec")),
      spark.table(s"${name}_nodes"),
      spark.table(s"${name}_edges"), k,
      nHint = meta.n,
      entriesHint =
        if (spark.catalog.tableExists(s"${name}_bands"))
          Some(spark.table(s"${name}_bands")) else None,
      seedsHint = meta.seeds.map(_.toDF("id")),
      subCountHint = meta.subCount)
  }

  /** Incremental maintenance — the serving-side insert path, HNSW's
    * insertion rule expressed batch-wise: the WHOLE new batch
    * beam-searches the existing graph together (one shared batch
    * search, never per-node loops), each new node's top-k results
    * become its out-edges, and each discovered neighbor gains a
    * reverse edge — without the reverse edge no later search could
    * ever surface the insert, since search only travels existing
    * edges. The append writes only new bucket files (existing files
    * untouched); neighbors' out-degree can exceed K between rebuilds —
    * the bounded search heaps absorb the extra fan-out, and a periodic
    * [[buildGraph]] re-prunes. Same add-to-built-index contract as
    * [[Ann.appendToIvfIndex]]. */
  def appendToGraphIndex(spark: SparkSession, newNodes: DataFrame,
                         name: String = "graft_graph",
                         nBuckets: Int = IndexBuckets, k: Int = K): Unit = {
    import spark.implicits._
    val nn = newNodes.select(col("id"), col("vec"))
    val meta = readGraphMetaFull(spark, name)
    val res = graphSearch(
      nn.select(col("id").as("q_id"), col("vec").as("q_vec")),
      spark.table(s"${name}_nodes"), spark.table(s"${name}_edges"), k,
      nHint = meta.n,
      entriesHint =
        if (spark.catalog.tableExists(s"${name}_bands"))
          Some(spark.table(s"${name}_bands")) else None,
      seedsHint = meta.seeds.map(_.toDF("id")),
      subCountHint = meta.subCount)
      // if a node id is already in the index (an at-least-once replay),
      // its best match is itself — never append self-loops
      .filter(col("q_id") =!= col("id"))
    val fwd = res.select(col("q_id").as("src"), col("id").as("dst"), col("score"))
    val rev = res.select(col("id").as("src"), col("q_id").as("dst"), col("score"))
    fwd.union(rev).write.mode("append").format("parquet")
      .bucketBy(nBuckets, "src").sortBy("src").saveAsTable(s"${name}_edges")
    nn.write.mode("append").format("parquet")
      .bucketBy(nBuckets, "id").sortBy("id").saveAsTable(s"${name}_nodes")
    // the batch enters the entry table too, banded under the FROZEN
    // build-time sub-split — without this, a later search could never
    // ENTER at an appended node, only walk to it
    if (spark.catalog.tableExists(s"${name}_bands")) {
      // a bands table without its build-time split in _meta is a
      // broken frozen-fit contract (writeGraphIndex writes both
      // together): banding the batch under a GUESSED split would
      // silently make appended nodes near-unreachable as entries —
      // searches split queries with subCountOf(actual n), not the
      // guess — so fail loudly instead
      require(meta.subCount > 0,
        s"${name}_bands exists but ${name}_meta has no build-time " +
          "sub_count — the frozen-split contract is broken; rebuild " +
          "with writeGraphIndex")
      nodeBands(nn, meta.subCount).write.mode("append").format("parquet")
        .partitionBy("bkt").saveAsTable(s"${name}_bands")
    }
    // maintain the index's node count alongside the nodes themselves
    // (the batch scan here is over the BATCH, not the index)
    writeGraphMeta(spark, name, nn.count(), subCount = -1L, seeds = null,
      overwrite = false)
  }

  /** Small-file compaction for the `_bands` entry table — the
    * maintenance op [[appendToGraphIndex]] accumulates debt for
    * (VERDICT r13 §wrong-1): each append bands its batch under the
    * frozen split and lands one new file per touched `bkt=` directory,
    * and those are exactly the directories a serving search DPP-prunes
    * to, so long-running ingest erodes the entry join with listing +
    * open overhead. Same selective-rewrite discipline as
    * [[Ann.compactIvfIndex]], expressed through the catalog because
    * the bands layout is a managed TABLE: only band directories
    * holding more than `maxFilesPerPartition` files rewrite (dynamic
    * partition overwrite — untouched directories stay byte-identical),
    * the repartition on `bkt` lands each hot band in one task → one
    * consolidated file, and `localCheckpoint` detaches the rewrite
    * from the files being replaced. The rewrite goes through the
    * table's LOCATION, not `insertInto` — the writer-scoped dynamic
    * option is honored on the path write but NOT on the insert path,
    * where mode("overwrite") would truncate the whole table (observed:
    * cold band directories deleted) — and the band partition SET is
    * unchanged by compaction, so the catalog's partition metadata
    * stays valid. Idempotent (a compacted band is below threshold on
    * the next call); same exclusive-maintenance-window contract as
    * compactIvfIndex — pause appends into the bands being compacted.
    * Returns the compacted band keys. */
  def compactBandsTable(spark: SparkSession, name: String = "graft_graph",
                        maxFilesPerPartition: Int = 4): Seq[Long] = {
    val table = s"${name}_bands"
    if (!spark.catalog.tableExists(table)) return Seq.empty
    val desc = spark.sql(s"DESCRIBE EXTENDED $table").collect()
    val loc = desc.find(_.getString(0) == "Location").map(_.getString(1))
      .getOrElse(return Seq.empty)
    val hPath = new org.apache.hadoop.fs.Path(loc)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hPath)) return Seq.empty
    val hot = fs.listStatus(hPath)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("bkt="))
      .filter(st => fs.listStatus(st.getPath)
        .count(_.getPath.getName.endsWith(".parquet")) > maxFilesPerPartition)
      .map(_.getPath.getName.stripPrefix("bkt=").toLong).toSeq.sorted
    if (hot.nonEmpty) {
      spark.read.parquet(loc)
        .filter(col("bkt").isin(hot: _*))
        .repartition(col("bkt"))
        .localCheckpoint()
        .write.mode("overwrite")
        // writer-scoped option — no session-global mutation
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bkt").parquet(loc)
      // the catalog caches the table's file listing; the path-level
      // rewrite invalidated it
      spark.catalog.refreshTable(table)
    }
    hot
  }

  /** Compaction for the `_meta` table — the last maintenance gap in
    * the graph-index matrix: every [[appendToGraphIndex]] batch
    * appends one count-only row (one parquet file per append), so a
    * long-running streaming ingest grows the metadata read that EVERY
    * serving search performs. The fold is semantic, not just physical:
    * the summed count plus the build row's frozen sub-split and seeds
    * collapse to ONE row carrying everything [[readGraphMetaFull]]
    * derives. Crash-safe via the [[Bucketing.compactBucketed]]
    * temp-table swap: the replacement is durable before the original
    * drops; a crash inside the drop→rename window self-heals on the
    * next call (and reads degrade to the documented count fallback
    * meanwhile — appends fail LOUDLY on the missing split rather than
    * banding wrong). Returns rowsBefore -> 1 when a rewrite ran. */
  def compactGraphMeta(spark: SparkSession,
                       name: String = "graft_graph"): Option[(Long, Long)] = {
    import spark.implicits._
    val table = s"${name}_meta"
    val tmp = table + "__compacting"
    def clearDefaultPaths(t: String): Unit = {
      val wh = spark.conf.get("spark.sql.warehouse.dir")
      val lc = t.toLowerCase(java.util.Locale.ROOT)
      Seq(s"$wh/$lc", s"$wh/${spark.catalog.currentDatabase}.db/$lc")
        .foreach { p =>
          val hp = new org.apache.hadoop.fs.Path(p)
          val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (fs.exists(hp)) fs.delete(hp, true)
        }
    }
    // recovery: a crash between the drop and the promoting rename
    // leaves the compacted row under the temp name — finish the swap
    if (!spark.catalog.tableExists(table) && spark.catalog.tableExists(tmp)) {
      clearDefaultPaths(table)
      spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
      return None
    }
    if (!spark.catalog.tableExists(table)) return None
    val rowsBefore = spark.table(table).count()
    if (rowsBefore <= 1) return None
    val meta = readGraphMetaFull(spark, name)
    spark.sql(s"DROP TABLE IF EXISTS $tmp")
    clearDefaultPaths(tmp)
    // one row, same schema family writeGraphMeta produces: the full
    // (n, sub_count, seeds) shape when the build row exists, the
    // legacy n-only shape otherwise
    val one =
      if (meta.subCount > 0)
        Seq((meta.n, Option(meta.subCount), meta.seeds))
          .toDF("n", "sub_count", "seeds")
      else Seq(meta.n).toDF("n")
    one.coalesce(1).write.format("parquet").saveAsTable(tmp)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    clearDefaultPaths(table)
    spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
    Some(rowsBefore -> 1L)
  }

  /** Mean overlap@k of graph search vs the exact cosine top-k — the
    * recall the graph trades for never scanning the corpus (same shape
    * as [[Eval.annRecall]] for LSH/IVF/PQ). */
  def searchRecall(spark: SparkSession, dir: String, k: Int = Knn.K): DataFrame = {
    val approx = search(spark, dir, k).select(col("q_id"), col("id").as("doc_id"))
    val exact = Knn.exactSet(spark, dir, k, byCosine = true)
    val hits = approx.join(exact, Seq("q_id", "doc_id")).groupBy("q_id").count()
    val perQ = exact.select(col("q_id")).distinct()
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("count"), lit(0L)).as("hits"))
    perQ.agg(rnd(avg(col("hits")) / k, 4).as("recall"))
  }
}
