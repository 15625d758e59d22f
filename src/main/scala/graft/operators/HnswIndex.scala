package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Traversal tier of an HNSW-analog index — which distances steer the beam
  * (`src/index/hnsw/faiss_hnsw.cc:2928-2939` registers HNSW, HNSW_SQ,
  * HNSW_PQ, HNSW_PRQ; the refine loop at `faiss_hnsw.cc:739-860` re-scores
  * the quantized candidate list against raw data).
  *
  * `Exact` traverses on raw vectors (plain HNSW — no refine needed);
  * the quantized variants traverse on RECONSTRUCTED vectors (SQ8 midpoint
  * decode, PQ codeword concatenation, or two-stage product-residual) and
  * exact-rerank only the final frontier.
  */
sealed trait HnswVariant { def name: String }
object HnswVariant {
  case object Exact extends HnswVariant { val name = "HNSW" }
  final case class Sq8(stats: DataFrame) extends HnswVariant { val name = "HNSW_SQ" }
  final case class Pq(model: ProductQuant.PQModel) extends HnswVariant { val name = "HNSW_PQ" }
  final case class Prq(m1: ProductQuant.PQModel, m2: ProductQuant.PQModel) extends HnswVariant {
    val name = "HNSW_PRQ"
  }
}

/** HNSW-family index handle (S7 — `src/index/hnsw/hnsw.h`,
  * `faiss_hnsw.cc`): a degree-R neighborhood graph over the base table,
  * searched by the batch beam walk (`GraphSearch.beamSearch`). The
  * reference's layered per-query descent is a documented deviation
  * (SURVEY §7.4) — the batch analog expands every frontier node per hop,
  * which is the shape a 1000-executor cluster wants (frontier-sized
  * co-located joins instead of a billion sequential pointer chases).
  *
  * Quantized variants ([[HnswVariant]]) keep the reference's memory split:
  * the beam never touches raw vectors; `base` is read once, for the final
  * nq×ef candidate rerank. Raw data is retained (it powers the refine), so
  * GetVectorByIds works — the reference's refine-flat configuration.
  */
final class HnswIndex(
    val graph: DataFrame, // (src, dst)
    val base: DataFrame, // (id, vec) — raw tier
    val entries: DataFrame, // (nid) entry points
    val metric: Metric,
    val efSearch: Int,
    val beamIters: Int,
    val variant: HnswVariant,
    roundDist: Option[Int] = None,
    degreeHint: Option[Long] = None,
    val adaptive: Boolean = true
) extends graft.VectorIndex {

  /** Per-query serving adapter over this handle's shard (the reference's
    * online path — IndexHNSWWrapper's ef-early-exit walk): graph + raw
    * tier loaded once, each search one sequential best-first walk.
    * Coarse entry selection (the upper-layer-descent analog — see
    * [[Serve.LocalGraphSearcher.enableCoarseEntries]]) is always on since
    * round 10's randomized sweep (dims 16/64/256 × entry counts,
    * ServeSpec): recall parity with the flat argmin at up to 2.9× fewer
    * seed evaluations. The flat all-entries scan stays reachable as
    * `Serve.load(..)` without `enableCoarseEntries()`. */
  def serving(): Serve.LocalGraphSearcher =
    Serve.load(graph, base, entries, metric).enableCoarseEntries()

  /** Variant-faithful refined serving — the handle's own memory split,
    * served: quantized kinds traverse their CODED tier (SQ8 codes at
    * 1 byte/dim, PQ codes at m bytes — `Serve.loadPackedSq8/loadPackedPq`;
    * PRQ's two-stage reconstruction stays a decoded float frame) and
    * rescore the walk's window from the raw refine tier, exactly as the
    * batch `search` does relationally. Exact kind refines over raw (a
    * no-op rescoring — kept so every variant serves through one verb). */
  def servingRefined(): Serve.RefinedSearcher = {
    val s = variant match {
      case HnswVariant.Sq8(stats) =>
        Serve.loadRefinedSq8(graph, base, entries, Some(stats), metric)
      case HnswVariant.Pq(model) =>
        Serve.loadRefinedPq(graph, base, entries, model, metric)
      case HnswVariant.Prq(m1, m2) =>
        Serve.loadRefined(graph, ProductQuant.prqReconTier(base, m1, m2),
          base, entries, metric)
      case HnswVariant.Exact =>
        // traversal tier == raw tier: one shared map, half the bytes of
        // loading two identical tiers
        Serve.loadRefinedShared(graph, base, entries, metric)
    }
    s.enableCoarseEntries()
  }

  override def indexType: String = variant.name
  override lazy val count: Long = base.count()
  override lazy val dim: Int = base.select(max(size(col("vec")))).head().getInt(0)

  /** The traversal tier: raw for Exact, reconstructed for quantized kinds.
    * Reconstruction is per-row codegen'd arithmetic — computed on the fly
    * from the codes; nothing is materialized twice. */
  private def approxTier: DataFrame = variant match {
    case HnswVariant.Exact => base
    case HnswVariant.Sq8(stats) =>
      base
        .crossJoin(broadcast(stats))
        .select(col("id"),
          Quantization.sq8Recon(
            Quantization.sq8Code(col("vec"), col("mn"), col("mx")),
            col("mn"), col("mx")).as("vec"))
    case HnswVariant.Pq(model) =>
      base.select(col("id"),
        ProductQuant.reconExpr(ProductQuant.encodeExpr(col("vec"), model), model).as("vec"))
    case HnswVariant.Prq(m1, m2) => ProductQuant.prqReconTier(base, m1, m2)
  }

  /** Filter semantics follow the reference bitset: filtered nodes still
    * ROUTE the walk (the graph is traversed unfiltered) but cannot be
    * ANSWERS — the filter lands on the rerank tier. */
  override def search(queries: DataFrame, k: Int, filter: Option[Column]): DataFrame = {
    val answerBase = filter.map(base.filter).getOrElse(base)
    variant match {
      case HnswVariant.Exact if filter.isEmpty =>
        // DEFAULT: per-query-adaptive termination — the reference's
        // ef-driven early exit (faiss_hnsw.cc searchWithCandidates loop):
        // the walk stops when a hop improves no frontier, with beamIters
        // kept as the fixed-unroll arm for the hash-gated oracle queries
        if (adaptive)
          GraphSearch.beamSearchConverged(graph, base, queries, entries, k, efSearch,
            maxIters = math.max(beamIters, 16), metric = metric, roundDist = roundDist)
        else
          GraphSearch.beamSearch(graph, base, queries, entries, k, efSearch, beamIters,
            metric, roundDist)
      case _ =>
        GraphSearch.beamSearchRefined(graph, approxTier, answerBase, queries, entries,
          k, efSearch, beamIters, metric, roundDist)
    }
  }

  /** Range search: exact over the raw tier (the reference serves range
    * queries through the iterator + rerank path; exact here — same
    * contract as [[DiskAnnIndex.rangeSearch]]). */
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
    variant match {
      case HnswVariant.Exact => ()
      case HnswVariant.Sq8(stats) => stats.write.mode("overwrite").parquet(s"$dir/sq8_stats")
      case HnswVariant.Pq(model) => ProductQuant.saveModel(spark, model, s"$dir/pq")
      case HnswVariant.Prq(m1, m2) =>
        ProductQuant.saveModel(spark, m1, s"$dir/pq1")
        ProductQuant.saveModel(spark, m2, s"$dir/pq2")
    }
    // variant + degree as build-time metadata: a loaded handle answers
    // meta calls without scanning the graph (the reference keeps graph
    // stats in the index header)
    Seq((variant.name, maxDegree)).toDF("variant", "max_degree")
      .write.mode("overwrite").parquet(s"$dir/meta")
  }

  private lazy val maxDegree: Long = degreeHint.getOrElse(
    graph.groupBy(col("src")).count().agg(max("count")).head().getLong(0))

  override def indexMetaJson: String =
    s"""{"index_type":"$indexType","count":$count,"dim":$dim,""" +
      s""""degree":$maxDegree,"ef":$efSearch}"""

  def roundDigits: Option[Int] = roundDist
}

object HnswIndex {

  /** Deserialize an index saved by [[HnswIndex#save]] — search-identical.
    * `loadMode` ([[LoadMode]], the enable_mmap/enable_mmap_pop analog)
    * governs the two data-bearing frames (graph + raw tier); the tiny
    * entries/meta/model frames stay lazy. */
  def load(
      spark: SparkSession,
      dir: String,
      metric: Metric = Metric.L2,
      efSearch: Int = 16,
      beamIters: Int = 2,
      roundDist: Option[Int] = None,
      loadMode: LoadMode = LoadMode.Mapped
  ): HnswIndex = {
    val meta = spark.read.parquet(s"$dir/meta").head()
    val variant = meta.getAs[String]("variant") match {
      case "HNSW" => HnswVariant.Exact
      case "HNSW_SQ" => HnswVariant.Sq8(spark.read.parquet(s"$dir/sq8_stats"))
      case "HNSW_PQ" => HnswVariant.Pq(ProductQuant.loadModel(spark, s"$dir/pq"))
      case "HNSW_PRQ" =>
        HnswVariant.Prq(
          ProductQuant.loadModel(spark, s"$dir/pq1"),
          ProductQuant.loadModel(spark, s"$dir/pq2"))
      case other => throw new IllegalArgumentException(s"unknown HNSW variant $other")
    }
    new HnswIndex(
      LoadMode(spark.read.parquet(s"$dir/graph"), loadMode),
      LoadMode(spark.read.parquet(s"$dir/base"), loadMode),
      spark.read.parquet(s"$dir/entries"),
      metric,
      efSearch,
      beamIters,
      variant,
      roundDist,
      degreeHint = Some(meta.getAs[Long]("max_degree")))
  }
}
