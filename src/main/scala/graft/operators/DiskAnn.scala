package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DiskANN analog (S8) — the reference's SSD-resident Vamana index
  * (`src/index/diskann/diskann.cc:160-707`,
  * `src/index/diskann/diskann_config.h:26-143`).
  *
  * The reference splits the index across two tiers: compressed PQ codes
  * stay in memory and drive the graph traversal (`cached_beam_search`,
  * `diskann.cc:532,637`), while full-precision vectors live on SSD and are
  * only read to rerank the final search list. The Spark-native rendering
  * keeps exactly that split:
  *
  *   - `graph (src, dst)`: degree-R neighborhood graph (Vamana analog —
  *     built as an exact kNN graph; the reference's alpha-pruned build is
  *     a quality knob on the same structure);
  *   - `coded (id, codes)`: PQ codes — the IN-MEMORY traversal tier; beam
  *     expansion scores candidates by ADC lookup only, never touching raw
  *     vectors (`pq_code_budget_gb`'s role);
  *   - `raw (id, vec)`: full-precision vectors in parquet — the SSD tier;
  *     read for every node the beam expands (the reference issues
  *     `beamwidth` IO requests per hop and keeps exact distances for all
  *     fetched nodes);
  *   - `entries (nid)`: entry points (the reference's medoid).
  *
  * Search (`search_list_size` = L, `beamwidth` folded into the batch hop —
  * every frontier node expands per hop, `diskann_config.h:73-77`):
  * frontier = top-L by ADC of the entry points; each hop joins the
  * frontier to the graph, ADC-scores the new candidates, and keeps the
  * top-L of the union; the answer is the exact-distance top-k over the
  * full visited set, fetched from the raw tier.
  *
  * Determinism: ADC and exact distances round-before-rank with (dist, id)
  * tie-breaks, fixed hop count — with an explicit codebook the whole
  * search is oracle-expressible; recall under trained codebooks is gated
  * by the ANN floor in ScalaTest.
  *
  * Scale shape: the frontier is nq×L rows per hop; the graph joins on
  * `src`, codes on `id` — both index tables are parquet partitioned/
  * bucketed by their join key, so hops are frontier-sized co-located
  * shuffles. The raw tier is touched once, by an nq×L semi-join — the
  * whole point of DiskANN's memory/disk split, preserved relationally.
  */
final class DiskAnnIndex(
    val graph: DataFrame, // (src, dst)
    val coded: DataFrame, // (id, codes)
    val raw: DataFrame, // (id, vec) — the "SSD" tier
    val entries: DataFrame, // (nid)
    val model: ProductQuant.PQModel,
    val searchListSize: Int, // search_list_size (L)
    val beamIters: Int,
    roundDist: Option[Int] = None,
    degreeHint: Option[Long] = None, // from build-time metadata on load
    // where the raw tier's SECTOR layout lives on disk, when this handle
    // came from save/load — Serve.loadDiskAnn pages straight from it
    // instead of materializing a fresh store
    val rawDir: Option[String] = None
) extends graft.VectorIndex {
  override def indexType: String = "DISKANN"
  override lazy val count: Long = raw.count()
  override lazy val dim: Int = raw.select(max(size(col("vec")))).head().getInt(0)

  override def search(queries: DataFrame, k: Int, filter: Option[Column]): DataFrame =
    DiskAnn.search(this, queries, k, filter)

  /** Range search: exact over the raw tier (the reference serves range
    * queries through the iterator + rerank path; exact here). */
  override def rangeSearch(queries: DataFrame, radius: Double, rangeFilter: Double,
      filter: Option[Column]): DataFrame =
    BruteForce.rangeSearch(queries, raw, Metric.L2, radius, rangeFilter, filter, roundDist)

  /** DiskANN retains raw data on SSD (`diskann.cc` GetVectorByIds). */
  override def getVectorByIds(ids: DataFrame): DataFrame =
    BruteForce.getVectorByIds(ids, raw)

  override def save(dir: String): Unit = {
    graph.write.mode("overwrite").parquet(s"$dir/graph")
    coded.write.mode("overwrite").parquet(s"$dir/codes")
    // the SSD tier: parquet for the batch side, plus 4 KiB page files in
    // the same dir (invisible to the parquet reader) so a serving load
    // reads pages by offset — the reference lays its disk file out in
    // per-node sectors at build for exactly this reason
    // (`diskann.cc:560-660` AlignedRead offsets)
    raw.write.mode("overwrite").parquet(s"$dir/raw")
    graft.sources.SectorStore.save(raw, s"$dir/raw")
    entries.write.mode("overwrite").parquet(s"$dir/entries")
    ProductQuant.saveModel(raw.sparkSession, model, s"$dir/pq")
    // degree stats become BUILD-TIME metadata: a loaded index answers meta
    // calls without ever scanning the graph (the reference keeps graph
    // degree in the index header, diskann.cc metadata block)
    val spark = raw.sparkSession
    import spark.implicits._
    Seq(maxDegree).toDF("max_degree").write.mode("overwrite").parquet(s"$dir/meta")
  }

  // loaded indexes read the build-time metadata; in-memory builds compute
  // once per handle — meta calls never re-scan the graph twice either way
  private lazy val maxDegree: Long = degreeHint.getOrElse(
    graph.groupBy(col("src")).count().agg(max("count")).head().getLong(0))

  override def indexMetaJson: String =
    s"""{"index_type":"$indexType","count":$count,"dim":$dim,""" +
      s""""degree":$maxDegree,"search_list_size":$searchListSize}"""

  def roundDigits: Option[Int] = roundDist
}

object DiskAnn {

  /** Build with an EXACT degree-R kNN graph. The exact graph is O(nb²)
    * distance compute — kept only because with explicit codebooks the
    * whole build is DuckDB-oracle-expressible at small SF (the hash gate's
    * job). Production-scale builds go through [[buildIvf]]. */
  def build(
      base: DataFrame, // (id, vec)
      model: ProductQuant.PQModel,
      entries: DataFrame, // (nid)
      degree: Int = 5,
      searchListSize: Int = 16,
      beamIters: Int = 2,
      roundDist: Option[Int] = Some(4)
  ): DiskAnnIndex = {
    val allQ = base.select(col("id").as("qid"), col("vec").as("qvec"))
    val graph = BruteForce
      .knnFused(allQ, base, degree, Metric.L2, roundDist = roundDist, excludeSelf = true)
      .select(col("qid").as("src"), col("nid").as("dst"))
    val coded = base.select(col("id"), ProductQuant.encodeExpr(col("vec"), model).as("codes"))
    new DiskAnnIndex(graph, coded, base, entries, model, searchListSize, beamIters, roundDist)
  }

  /** SCALABLE build: the Vamana-analog graph comes from the IVF-bucketed
    * candidate construction (`GraphSearch.knnGraphIvf`) — each node ranks
    * only its nprobe nearest lists, a co-located shuffle join, never an
    * all-pairs pass. This mirrors the reference build, which also grows
    * Vamana from BOUNDED per-node candidate pools rather than all pairs
    * (`src/index/diskann/diskann.cc:348-360` — build L caps the pool).
    * Edge quality rides the recall floor (RecallSpec); with deterministic
    * centroids the graph — and hence the whole search — stays
    * oracle-expressible. */
  def buildIvf(
      base: DataFrame, // (id, vec)
      model: ProductQuant.PQModel,
      entries: DataFrame, // (nid)
      centroids: DataFrame, // (cluster_id, centroid)
      degree: Int = 5,
      nprobe: Int = 2,
      searchListSize: Int = 16,
      beamIters: Int = 2,
      roundDist: Option[Int] = Some(4),
      // Vamana proper IS robust-pruned (diskann.cc build alpha): non-plain
      // knobs route the graph through NN-descent + the alpha detour prune
      // + reverse-edge merge (Params.GraphBuildParams; default = the
      // plain bucketed kNN graph, bit-for-bit)
      graphBuild: Params.GraphBuildParams = Params.GraphBuildParams()
  ): DiskAnnIndex = {
    val graph =
      if (graphBuild.isPlain)
        GraphSearch.knnGraphIvf(base, centroids, degree, nprobe, Metric.L2, roundDist)
      else
        GraphSearch.knnGraphDiversified(base, centroids, degree,
          intermediateDegree = graphBuild.interOr(degree), nprobe = nprobe,
          descentRounds = graphBuild.descentRounds,
          sampleDegree = graphBuild.sampleDegree,
          alpha = graphBuild.alpha, metric = Metric.L2, roundDist = roundDist)
    val coded = base.select(col("id"), ProductQuant.encodeExpr(col("vec"), model).as("codes"))
    new DiskAnnIndex(graph, coded, base, entries, model, searchListSize, beamIters, roundDist)
  }

  /** Deserialize an index saved by [[DiskAnnIndex#save]]. */
  def load(
      spark: SparkSession,
      dir: String,
      searchListSize: Int = 16,
      beamIters: Int = 2,
      roundDist: Option[Int] = Some(4)
  ): DiskAnnIndex = {
    // older saves predate the meta table; fall back to the lazy graph scan
    val hint =
      try Some(spark.read.parquet(s"$dir/meta").head().getLong(0))
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    new DiskAnnIndex(
      spark.read.parquet(s"$dir/graph"),
      spark.read.parquet(s"$dir/codes"),
      spark.read.parquet(s"$dir/raw"),
      spark.read.parquet(s"$dir/entries"),
      ProductQuant.loadModel(spark, s"$dir/pq"),
      searchListSize,
      beamIters,
      roundDist,
      degreeHint = hint,
      rawDir = Some(s"$dir/raw"))
  }

  /** ADC distance for explicit (qid, nid) candidate pairs: the in-memory
    * tier's only distance — codes join + broadcast query LUTs, no raw
    * vector access (`cached_beam_search`'s PQ distance). */
  private def adcScore(
      cands: DataFrame, // (qid, nid)
      qWithLut: DataFrame, // (qid, _lut0.._lutM-1)
      coded: DataFrame,
      model: ProductQuant.PQModel,
      roundDist: Option[Int]
  ): DataFrame = {
    val adistSq = (0 until model.m)
      .map(s => element_at(col(s"_lut$s"), element_at(col("codes"), s + 1) + 1))
      .reduce(_ + _)
    val rawA = sqrt(adistSq)
    val adist = roundDist.map(n => round(rawA, n)).getOrElse(rawA)
    cands
      .join(coded.withColumnRenamed("id", "nid"), "nid")
      .join(broadcast(qWithLut), "qid")
      .select(col("qid"), col("nid"), adist.as("dist"))
  }

  /** Beam search on PQ distances + exact answer from the visited set.
    *
    * Fidelity note: the reference's `cached_beam_search` reads the RAW
    * vector of every node it expands from SSD (beamwidth IO requests per
    * hop, `diskann_config.h:73-77`) and keeps exact distances for all of
    * them; ADC only steers which neighbors to expand next. So the answer
    * pool here is the full visited set — every candidate the beam ever
    * scored — reranked exactly from the raw tier, NOT just the final
    * frontier. Visited size is bounded by nq·(entries + iters·L·degree). */
  def search(
      idx: DiskAnnIndex,
      queries: DataFrame, // (qid, qvec)
      k: Int,
      filter: Option[Column] = None
  ): DataFrame = {
    val l = idx.searchListSize
    require(l >= k, s"search_list_size $l must be >= k $k")
    val roundDist = idx.roundDigits
    val model = idx.model
    // per-query subspace LUTs computed once, reused across hops
    val qWithLut = (0 until model.m).foldLeft(
      queries.select(col("qid"), col("qvec"))
    )((df, s) => df.withColumn(s"_lut$s", ProductQuant.lutExpr(col("qvec"), model, s)))
      .drop("qvec")
    val seed = queries.select(col("qid")).crossJoin(broadcast(idx.entries))
    var visited = seed // (qid, nid) — everything the beam ever fetched
    var frontier = BruteForce
      .topK(adcScore(seed, qWithLut, idx.coded, model, roundDist), l, ascending = true)
      .select(col("qid"), col("nid"), col("dist"))
    // materialize the (nq×L, tiny) frontier per hop once the walk is deep
    // enough that lineage re-execution (hop h re-runs hops 1..h−1,
    // quadratic in hops — measured 41 s → 14 s at nb=200k, 4 hops) costs
    // more than the extra actions (which dominate at 1-2 hops)
    val materializeHops = idx.beamIters >= 3
    val persisted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (_ <- 1 to idx.beamIters) {
      if (materializeHops) {
        frontier.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        frontier.count()
        persisted += frontier
      }
      val cands = frontier
        .join(idx.graph.withColumnRenamed("src", "nid"), "nid")
        .select(col("qid"), col("dst").as("nid"))
        .distinct()
      visited = visited.union(cands)
      val scored = adcScore(cands, qWithLut, idx.coded, model, roundDist)
      frontier = BruteForce
        .topK(frontier.union(scored).distinct(), l, ascending = true)
        .select(col("qid"), col("nid"), col("dist"))
    }
    // the "SSD fetches": exact L2 over every visited node
    val fetched = filter
      .map(idx.raw.filter)
      .getOrElse(idx.raw)
      .select(col("id").as("nid"), col("vec"))
    val rawE = graft.functions.VectorFunctions.l2(col("qvec"), col("vec"))
    val edist = roundDist.map(n => round(rawE, n)).getOrElse(rawE)
    val rer = visited
      .distinct()
      .join(fetched, "nid")
      .join(broadcast(queries.select(col("qid"), col("qvec"))), "qid")
      .select(col("qid"), col("nid"), edist.as("dist"))
    // when hops were materialized: pin the (nq×k) answer, then release
    // them — callers own only the bounded result, nothing stays cached
    val out = BruteForce.topK(rer, k, ascending = true)
    if (persisted.nonEmpty) {
      out.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      out.count()
      persisted.foreach(_.unpersist())
    }
    out
  }
}
