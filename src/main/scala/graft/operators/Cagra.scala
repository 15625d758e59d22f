package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CAGRA — the reference's GPU graph index, rendered for CPU batch search.
  *
  * The reference registers GPU_CAGRA / GPU_RAFT_CAGRA
  * (`src/index/gpu_raft/gpu_raft_cagra.cc:163-175`) with config
  * `gpu_raft_cagra_config.h`: an `intermediate_graph_degree` kNN graph is
  * built (NN_DESCENT), then OPTIMIZED down to `graph_degree` — the CAGRA
  * graph-optimization step prunes each node's "detourable" edges (an edge
  * s→d is droppable when some intermediate m gives a two-hop route whose
  * legs are both shorter) and merges in reverse edges so the fixed-degree
  * graph stays reachable. Search walks the optimized graph with an
  * `itopk_size` candidate buffer.
  *
  * The reference itself ships a CPU search path for this index: the hybrid
  * node's `adapt_for_cpu` flag (`gpu_raft_cagra.cc:38-45,48-60`) trains on
  * GPU and serves searches from a CPU graph — so a CPU stand-in is not a
  * semantic deviation, only a build-device one (ARCHITECTURE.md §5).
  *
  * Spark rendering, scale-first:
  *  - the intermediate graph comes from the IVF-bucketed candidate build
  *    ([[GraphSearch.knnGraphIvf]]) — co-located shuffle joins, never an
  *    all-pairs pass (the NN_DESCENT analog: both bound candidate
  *    generation by locality instead of scanning all pairs);
  *  - optimization is three degree-bounded relational steps: a two-hop
  *    self-join on the edge list (|E|·degree rows, shuffled on the join
  *    keys — no vectors move), an anti-join dropping detourable edges, and
  *    a reverse-edge union re-capped per source with the bounded top-k
  *    heap. Every frame carries only (src, dst, dist);
  *  - search reuses the batch beam walk ([[GraphSearch.beamSearch]]) with
  *    ef = itopk_size.
  *
  * Determinism: distances are rounded-then-ranked with id tie-breaks
  * (the repo-wide contract), and pruning/merge are pure relational algebra
  * over them — the whole build is oracle-expressible in SQL.
  */
object Cagra {

  /** Edge-count ceiling under which [[optimize]] callers hint the
    * broadcast fast path: ~64M edges ≈ a 3–4 GB hash relation per hop
    * side — fine for one driver-shared copy in local mode and for
    * cluster executors in the ≥16 GB class the serving tier assumes;
    * above it the relational shuffle plan (which scales out with the
    * cluster's aggregate disk) is the safe default. */
  val BroadcastEdgeLimit: Long = 1L << 26

  /** CAGRA graph optimization: detour-prune the intermediate kNN graph,
    * merge reverse edges, re-cap at `graphDegree` per source.
    *
    * `edges` is the intermediate graph (src, dst, dist) — dist already on
    * the rounded grid. A node's nearest edge is never detourable (no leg
    * can beat the rank-1 distance), so every node keeps an out-edge and
    * the pruned graph stays entry-reachable.
    *
    * `alpha` is the Vamana RobustPrune slack (DiskANN's build `alpha`,
    * default 1.2 in `src/index/diskann/diskann.cc`'s config): an edge s→d
    * is only detourable when the detour's second leg makes real progress —
    * α·d(m,d) < d(s,d). α=1.0 (the default) is CAGRA's plain
    * both-legs-shorter rule, preserved bit-for-bit for the hash-gated
    * build queries; α<1 prunes MORE redundant in-clique edges (the re-cap
    * then admits longer-range survivors — the navigability lever), α>1
    * prunes fewer.
    *
    * `metric` orients every comparison: for similarity metrics (IP/cosine,
    * `ascending=false`) "shorter leg" means MORE similar, the reverse-merge
    * dedup keeps the max, and the re-cap ranks descending. The α slack is
    * only defined on the distance scale (the reference's RobustPrune is a
    * distance-space rule, `diskann.cc` build config — similarities can be
    * negative, where a multiplicative slack inverts), so α≠1 with a
    * similarity metric is rejected rather than silently mis-scaled. */
  def optimize(
      edges: DataFrame,
      graphDegree: Int,
      alpha: Double = 1.0,
      metric: Metric = Metric.L2,
      hintBroadcast: Boolean = false): DataFrame = {
    require(alpha == 1.0 || metric.ascending,
      s"RobustPrune alpha=$alpha is a distance-space slack; " +
        s"similarity metric ${metric.name} supports only alpha=1.0")
    val e = edges.select(col("src"), col("dst"), col("dist"))
    // two-hop routes s→m→d restricted to graph edges: join on the shared
    // midpoint — |E|·degree rows of 3 longs + 2 doubles, no payloads
    val hop1 = e.select(col("src"), col("dst").as("mid"), col("dist").as("d_sm"))
    val hop2 = e.select(col("src").as("mid"), col("dst"), col("dist").as("d_md"))
    val secondLeg =
      if (alpha == 1.0) col("d_md") else col("d_md") * lit(alpha)
    val better: (Column, Column) => Column =
      if (metric.ascending) _ < _ else _ > _
    // PHYSICAL-PLAN CHOICE, not semantics: the detour test expands e to
    // |E|·degree rows (4G at degree 64/1M nodes). As a sort-merge join
    // that whole frame is shuffled on (mid, dst) — ~70 GB of spill at 1M
    // d64, which exceeds a single local disk (and is the dominant build
    // cost everywhere). When the edge list itself is bounded — the
    // per-segment builds the serving tier shards into are ≤ a few M
    // nodes — broadcasting BOTH hop sides turns the expansion into two
    // streaming hash probes: the 4G-row frame never materializes, and
    // the only shuffle left is the map-side-combined distinct over the
    // detourable (src, dst) keys (≤ |E| rows). `hintBroadcast` is the
    // caller's promise that |E| fits an executor's broadcast budget
    // ([[BroadcastEdgeLimit]]); rows out are bit-identical either way.
    @inline def maybeB(df: DataFrame): DataFrame =
      if (hintBroadcast) broadcast(df) else df
    // the first-leg test references only (e ⋈ hop1) columns, so it is
    // applied EXPLICITLY between the joins: it halves the |E|·degree
    // frame before the (mid, dst) join (a conjunct split of the original
    // post-join filter; bit-identical survivors). `d_sm` is dead after
    // that filter and is projected away before the (mid, dst) join.
    val detourable = e
      .join(maybeB(hop1), Seq("src"))
      .filter(better(col("d_sm"), col("dist")))
      .select(col("src"), col("dst"), col("dist"), col("mid"))
      .join(maybeB(hop2), Seq("mid", "dst"))
      .filter(better(secondLeg, col("dist")))
      .select(col("src"), col("dst"))
      .distinct()
    val kept = e.join(maybeB(detourable), Seq("src", "dst"), "left_anti")
    // reverse-edge merge (CAGRA keeps the graph navigable after pruning);
    // metric distances/similarities are symmetric so the reverse edge
    // reuses the stored dist, and the (src,dst) group-by dedupes edges
    // present both ways, keeping the better score
    val dedup: Column => Column = if (metric.ascending) min(_) else max(_)
    val merged = kept
      .unionByName(kept.select(col("dst").as("src"), col("src").as("dst"), col("dist")))
      .groupBy(col("src"), col("dst"))
      .agg(dedup(col("dist")).as("dist"))
    BruteForce
      .topK(merged, graphDegree, ascending = metric.ascending, qidCol = "src", idCol = "dst")
      .select(col("src"), col("dst"), col("dist"), col("rnk"))
  }

  /** Full build: IVF-bucketed intermediate graph → optional NN-descent
    * refinement rounds (the reference's build_algo=NN_DESCENT /
    * nn_descent_niter, `gpu_raft_cagra_config.h`) → optimize with the
    * RobustPrune slack `alpha`. Returns the optimized
    * (src, dst, dist, rnk) edge list; the defaults reproduce the original
    * two-step build bit-for-bit. */
  def build(
      base: DataFrame, // (id, vec)
      centroids: DataFrame, // (cluster_id, centroid)
      intermediateDegree: Int,
      graphDegree: Int,
      nprobe: Int = 2,
      metric: Metric = Metric.L2,
      roundDist: Option[Int] = None,
      descentRounds: Int = 0,
      sampleDegree: Int = 8,
      alpha: Double = 1.0
  ): DataFrame = {
    // degree relation + metric gate per the reference's config registry
    // (gpu_raft_cagra_config.h ranges — Params.CagraParams mirrors them)
    Params.CagraParams(
      k = 1,
      metric = if (metric == Metric.L2Sq) "l2" else metric.name,
      intermediateGraphDegree = intermediateDegree,
      graphDegree = graphDegree).validated
    val inter = GraphSearch.knnGraphIvfWithDist(
      base, centroids, intermediateDegree, nprobe, metric, roundDist)
    val refined =
      if (descentRounds > 0)
        GraphSearch.nnDescent(inter, base, intermediateDegree, descentRounds,
          sampleDegree, metric, roundDist)
      else inter
    // refined is materialized (persist in knnGraphIvfWithDist, checkpoint
    // in nnDescent), so the count is a cached scan
    val out = optimize(refined, graphDegree, alpha, metric,
      hintBroadcast = refined.count() <= BroadcastEdgeLimit)
    if (descentRounds > 0) {
      // force the prune before releasing the descent checkpoint it reads
      out.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      out.count()
      inter.unpersist()
      org.apache.spark.sql.GraftExpr.unpersistCheckpoint(refined)
    }
    out
  }
}

/** CAGRA index handle — the CPU-adapt serving shape
  * (`gpu_raft_cagra.cc:48-60`): a fixed-degree optimized graph searched by
  * the batch beam walk with ef = itopk_size. Raw vectors are retained
  * (the reference's `cache_dataset_on_device`/refine configuration), so
  * GetVectorByIds and exact range search work.
  */
final class CagraIndex(
    val graph: DataFrame, // (src, dst) optimized edges
    val base: DataFrame, // (id, vec)
    val entries: DataFrame, // (nid)
    val metric: Metric,
    val itopkSize: Int,
    val beamIters: Int,
    roundDist: Option[Int] = None,
    degreeHint: Option[Long] = None,
    val adaptive: Boolean = true
) extends graft.VectorIndex {

  /** Per-query serving adapter over the optimized CAGRA graph — the
    * adapt_for_cpu serving contract run sequentially per query, with
    * coarse entry selection on (round-10 randomized sweep: recall parity
    * at fewer seed evaluations — see [[HnswIndex.serving]]). */
  def serving(): Serve.LocalGraphSearcher =
    Serve.load(graph, base, entries, metric).enableCoarseEntries()

  override def indexType: String = "GPU_CAGRA"
  override lazy val count: Long = base.count()
  override lazy val dim: Int = base.select(max(size(col("vec")))).head().getInt(0)

  /** Filtered nodes still route the walk but cannot be answers — the
    * reference's bitset contract (the hybrid CPU path passes the bitset
    * into searchKnn the same way, `gpu_raft_cagra.cc:56`). */
  override def search(queries: DataFrame, k: Int, filter: Option[Column]): DataFrame =
    filter match {
      case None =>
        // DEFAULT: itopk-driven adaptive stop (the CAGRA search loop ends
        // when the internal top-k stops improving); fixed unroll kept for
        // the hash-gated oracle arms
        if (adaptive)
          GraphSearch.beamSearchConverged(graph, base, queries, entries, k,
            math.max(itopkSize, k), maxIters = math.max(beamIters, 16),
            metric = metric, roundDist = roundDist)
        else
          GraphSearch.beamSearch(graph, base, queries, entries, k,
            math.max(itopkSize, k), beamIters, metric, roundDist)
      case Some(f) =>
        val frontier = GraphSearch.beamSearch(graph, base, queries, entries,
          math.max(itopkSize, k), math.max(itopkSize, k), beamIters, metric, roundDist)
        val allowed = base.filter(f).select(col("id").as("nid"))
        BruteForce.topK(
          frontier.join(allowed, "nid").select(col("qid"), col("nid"), col("dist")),
          k, metric.ascending)
    }

  override def rangeSearch(queries: DataFrame, radius: Double, rangeFilter: Double,
      filter: Option[Column]): DataFrame =
    BruteForce.rangeSearch(queries, base, metric, radius, rangeFilter, filter, roundDist)

  override def getVectorByIds(ids: DataFrame): DataFrame =
    BruteForce.getVectorByIds(ids, base)

  override def save(dir: String): Unit = {
    val spark = base.sparkSession
    import spark.implicits._
    graph.write.mode("overwrite").parquet(s"$dir/graph")
    base.write.mode("overwrite").parquet(s"$dir/base")
    entries.write.mode("overwrite").parquet(s"$dir/entries")
    Seq(("GPU_CAGRA", maxDegree)).toDF("variant", "max_degree")
      .write.mode("overwrite").parquet(s"$dir/meta")
  }

  private lazy val maxDegree: Long = degreeHint.getOrElse(
    graph.groupBy(col("src")).count().agg(max("count")).head().getLong(0))

  override def indexMetaJson: String =
    s"""{"index_type":"$indexType","count":$count,"dim":$dim,""" +
      s""""graph_degree":$maxDegree,"itopk_size":$itopkSize}"""
}

object CagraIndex {

  /** Deserialize an index saved by [[CagraIndex#save]] — search-identical. */
  def load(
      spark: SparkSession,
      dir: String,
      metric: Metric = Metric.L2,
      itopkSize: Int = 64,
      beamIters: Int = 4,
      roundDist: Option[Int] = None
  ): CagraIndex = {
    val meta = spark.read.parquet(s"$dir/meta").head()
    new CagraIndex(
      spark.read.parquet(s"$dir/graph"),
      spark.read.parquet(s"$dir/base"),
      spark.read.parquet(s"$dir/entries"),
      metric, itopkSize, beamIters, roundDist,
      degreeHint = Some(meta.getAs[Long]("max_degree")))
  }
}
