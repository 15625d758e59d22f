package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-shard scatter-gather — the segment layer the reference's HOST
  * runs above per-segment indexes. The reference itself is a single-node
  * engine; its `*_CC` growing-segment index kinds exist exactly so a host
  * can keep appending sealed segments while serving
  * (`/root/reference/src/index/ivf/ivf.cc:1250-1262`), and the host
  * answers a query by scattering it to EVERY segment and reducing the
  * per-segment top-k lists. This file supplies that reduce on both sides
  * of the repo's build/serve split:
  *
  *   - batch: [[scatterGather]] — the relational form (per-(query, shard)
  *     bounded heaps, then a per-query merge heap), oracle-gated because
  *     the merged result provably equals the single-index answer;
  *   - serving: [[ShardedGraphServing]] / [[ShardedIvfServing]] — routers
  *     over LOADED per-shard searchers ([[Serve]]), for the deployment
  *     `Serve`'s load caps point at ("shard the index across serving
  *     nodes"): `Packing.shardAssign` balances the shards at build time,
  *     each serving node loads one shard, the router walks all of them per
  *     query and merges under the shared (dist 4dp, id asc) contract.
  *
  * Correctness of the merge: every global top-k member is a top-k member
  * of its own shard (distances don't change under sharding), so the merge
  * input always contains the true global top-k — with EXACT per-shard arms
  * the merged answer equals the single-index answer bit-for-bit; with ANN
  * arms the merged recall is at least any single shard's (the classical
  * distributed top-k argument).
  *
  * Scale shape (batch): the per-shard heap is a partial aggregate — each
  * executor ships at most k rows per (query, shard) into the merge, so the
  * reduce moves O(nq · shards · k) rows regardless of corpus size.
  */
object ShardedServe {

  /** Batch scatter-gather over a sharded base: per-(query, shard) top-k
    * via the bounded `TopKAgg` heap, then the per-query merge of the
    * ≤ shards·k finalists under the same heap. Output (qid, nid, dist,
    * rnk) — identical to `BruteForce.knn` over the unsharded union. */
  def scatterGather(
      queries: DataFrame, // (qid, qvec)
      shardedBase: DataFrame, // (id, vec, shard)
      k: Int,
      metric: Metric,
      roundDist: Option[Int] = None
  ): DataFrame = {
    import org.apache.spark.sql.GraftExpr
    def heap(distCol: Column, idCol: Column): Column = GraftExpr.column(
      graft.plans
        .TopKAgg(
          GraftExpr.expression(distCol),
          GraftExpr.expression(idCol.cast("long")),
          k,
          metric.ascending)
        .toAggregateExpression())
    val p = BruteForce.pairs(
      queries, shardedBase, metric, None, roundDist, carryCols = Seq("shard"))
    // SCATTER: per-(query, shard) bounded heap — map-side partials mean a
    // shard contributes at most k candidate rows to the merge shuffle
    val perShard = p
      .groupBy(col("qid"), col("shard"))
      .agg(heap(col("dist"), col("nid")).as("_topk"))
      .select(col("qid"), explode(col("_topk")).as("_e"))
      .select(col("qid"), col("_e.id").as("nid"), col("_e.dist").as("dist"))
    // GATHER: the host's segment reduce — merge finalists per query
    BruteForce.topK(perShard, k, metric.ascending)
  }

  /** Parallel scatter — the host runs the first segment on the calling
    * thread and pushes one task per other segment onto the serving pool,
    * the way the reference fans every query batch onto its global search
    * pool (`include/knowhere/comp/thread_pool.h:194-238`;
    * per-query futures in `src/index/sparse/sparse_index_node.cc:129`),
    * so router latency tracks the SLOWEST shard, not the shard sum.
    * Per-shard searchers are independent objects (no shared mutable
    * state; Telemetry is atomic), and every gather below sorts before
    * truncating, so the answer is bit-identical to a serial scatter.
    *
    * CONTRACT: any user-supplied `allowed: Long => Boolean` filter is
    * invoked CONCURRENTLY from the calling thread and pool threads, one
    * call stream per shard — it must be thread-safe and side-effect-free
    * (a pure predicate over the id, like the reference's immutable
    * BitsetView, `include/knowhere/bitsetview.h`). A stateful/counting closure races
    * across shards. This applies to every filtered `search`/`rangeSearch`
    * overload on the routers below. */
  private lazy val scatterPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(
      math.max(2, Runtime.getRuntime.availableProcessors() / 2),
      (r: Runnable) => {
        val t = new Thread(r, "graft-serve-scatter")
        t.setDaemon(true)
        t
      })

  private def scatter[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.lengthCompare(1) <= 0) xs.map(f)
    else {
      // the calling thread searches the first shard itself and only the
      // rest go to the pool, so c concurrent callers over s shards hold
      // c·(s − 1) pool threads, not c·s
      val rest = xs.tail.map { x =>
        scatterPool.submit(new java.util.concurrent.Callable[B] {
          def call(): B = f(x)
        })
      }
      val first = f(xs.head)
      first +: rest.map { fut =>
        // rethrow the shard's own exception, not the ExecutionException
        // wrapper — the first shard and the single-shard fast path above
        // throw raw, and the error contract must not depend on shard count
        try fut.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            throw e.getCause
        }
      }
    }

  /** Merge per-shard ranked lists to the global top-k under the shared
    * (dist 4dp, id asc) contract — the serving-side segment reduce. */
  def mergeTopK(
      perShard: Seq[Seq[(Long, Double)]],
      k: Int,
      ascending: Boolean
  ): Seq[(Long, Double)] =
    perShard.flatten
      .sortBy { case (id, d) => (if (ascending) d else -d, id) }
      .take(k)

  /** First-wins union of per-shard V7 answers in request order — the
    * router-side GetVectorByIds gather every router shares (doc shards
    * are disjoint, so first-wins is merely defensive). */
  private def unionById[V](
      ids: Seq[Long],
      perShard: Seq[Seq[(Long, V)]]): Seq[(Long, V)] = {
    val m = scala.collection.mutable.HashMap.empty[Long, V]
    perShard.foreach(_.foreach { case (id, v) => m.getOrElseUpdate(id, v) })
    ids.flatMap(id => m.get(id).map(id -> _))
  }

  /** Scatter-gather router over loaded graph shards: every query walks
    * every shard's searcher (the host broadcasts the query to all
    * segments) and the per-shard top-k lists merge. The bitset filter
    * passes through to each shard unchanged — ids are global, so the
    * shard walks apply the same contract the single-index walk does.
    * The filter is invoked concurrently across shards (see [[scatter]]):
    * it must be thread-safe and side-effect-free. */
  final class ShardedGraphServing(
      shards: Seq[Serve.LocalGraphSearcher],
      metric: Metric
  ) {
    require(shards.nonEmpty, "router needs at least one shard")
    /** Coarse entry selection on every shard's walk (each shard buckets
      * its own entry set) — see
      * [[Serve.LocalGraphSearcher.enableCoarseEntries]]. */
    def enableCoarseEntries(probes: Int = 8): this.type = {
      shards.foreach(_.enableCoarseEntries(probes))
      this
    }
    def search(q: Array[Float], k: Int, ef: Int): Seq[(Long, Double)] =
      mergeTopK(scatter(shards)(_.search(q, k, ef)), k, metric.ascending)
    def search(
        q: Array[Float], k: Int, ef: Int,
        allowed: Long => Boolean): Seq[(Long, Double)] =
      mergeTopK(scatter(shards)(_.search(q, k, ef, allowed)), k, metric.ascending)
    /** V6 across shards: per-shard walks of depth n merge into one paged
      * stream (exact when each walk is exhaustive over its shard). */
    def iterator(q: Array[Float], n: Int, ef: Int): Serve.ServingIterator =
      shardedIterator(scatter(shards)(_.search(q, n, ef)), metric.ascending)
    /** V8 across shards: raw-fetch works only when every shard keeps raw. */
    def hasRawData: Boolean = shards.forall(_.hasRawData)
    /** V7 across shards: each id lives on exactly one shard — scatter the
      * request, union the answers, preserve request order. */
    def getVectorByIds(ids: Seq[Long]): Seq[(Long, Array[Float])] =
      unionById(ids, scatter(shards)(_.getVectorByIds(ids)))
  }

  /** Paged iterator across shards — the V6 verb over segments: each
    * shard contributes its ranked stream, the merged stream pages like
    * the single-index `ServingIterator`. With exact per-shard arms
    * (full-probe IVF, exhaustive graph walks) the merged stream equals
    * the single-index stream PAGE FOR PAGE — ServeSpec-gated. */
  def shardedIterator(
      perShardRanked: Seq[Seq[(Long, Double)]],
      ascending: Boolean
  ): Serve.ServingIterator =
    new Serve.ServingIterator(
      perShardRanked.flatten
        .sortBy { case (id, d) => (if (ascending) d else -d, id) })

  /** Scatter-gather router over sparse posting shards (documents
    * partitioned across shards — each shard is a complete inverted index
    * over its own docs), IP and BM25 alike: per-shard WAND/MaxScore arms
    * are EXACT, so the merge under (score desc, id asc) equals the
    * single-index answer over the union bit-for-bit. BM25 shards must be
    * loaded from shard-sliced postings under the COLLECTION'S global
    * stats (df/idf, N, avgdl), the way a host keeps collection-level stats
    * above its segments; then per-shard scores equal the global scores
    * restricted to shard docs. The bitset passes through unchanged and is
    * invoked concurrently across shards (see [[scatter]]): it must be
    * thread-safe and side-effect-free. */
  final class ShardedSparseServing(shards: Seq[Serve.LocalSparseSearcher]) {
    require(shards.nonEmpty, "router needs at least one shard")
    def search(query: Seq[(String, Long)], k: Int): Seq[(Long, Double)] =
      mergeTopK(scatter(shards)(_.search(query, k)), k, ascending = false)
    def search(
        query: Seq[(String, Long)], k: Int,
        allowed: Long => Boolean): Seq[(Long, Double)] =
      mergeTopK(scatter(shards)(_.search(query, k, allowed)), k, ascending = false)
    def searchMaxScore(query: Seq[(String, Long)], k: Int): Seq[(Long, Double)] =
      mergeTopK(scatter(shards)(_.searchMaxScore(query, k)), k, ascending = false)
    def searchMaxScore(
        query: Seq[(String, Long)], k: Int,
        allowed: Long => Boolean): Seq[(Long, Double)] =
      mergeTopK(scatter(shards)(_.searchMaxScore(query, k, allowed)), k, ascending = false)
  }

  /** The shard-compatibility check of the IVF routers: at least one
    * shard, and every shard built over the same coarse quantizer —
    * identical cluster ids and centroids (see [[ShardedIvfServing]]). */
  private def requireSharedCentroids(engines: Seq[Serve.IvfLists[Array[Float], _]]): Unit = {
    require(engines.nonEmpty, "router needs at least one shard")
    val head = engines.head
    require(engines.forall(e => java.util.Arrays.equals(e.centIds, head.centIds) &&
        java.util.Arrays.deepEquals(e.cents.asInstanceOf[Array[AnyRef]], head.cents.asInstanceOf[Array[AnyRef]])),
      "sharded IVF serving requires every shard built over identical centroids " +
        "(the shared coarse quantizer) — partial-nprobe merges are exact only then")
  }

  /** Scatter-gather router over loaded IVF shards.
    *
    * PRECONDITION (asserted): every shard is built over the SAME coarse
    * quantizer — identical (cluster_id, centroid) sets. The merged answer
    * equals the single-index answer at FULL probing regardless (every doc
    * is scanned either way), but at PARTIAL nprobe exactness-vs-the-
    * single-index holds only because shared centroids give every shard
    * the single index's probe order, so the union of scanned docs equals
    * the single index's scanned set (the growing-segment contract,
    * `ivf.cc:1250-1262`: segments share the collection's trained
    * quantizer). Shards with private quantizers would probe different
    * regions and the partial-nprobe merge could drop a true neighbor.
    * Any `allowed` filter is invoked concurrently across shards (see
    * [[scatter]]): it must be thread-safe and side-effect-free. */
  final class ShardedIvfServing(
      shards: Seq[Serve.LocalIvfSearcher],
      metric: Metric
  ) {
    requireSharedCentroids(shards.map(_.engine))
    def search(q: Array[Float], k: Int, nprobe: Int): Seq[(Long, Double)] =
      mergeTopK(scatter(shards)(_.search(q, k, nprobe)), k, metric.ascending)
    /** V6 across shards: per-shard ranked streams of depth n, merged and
      * paged. Full probing makes every stream exact, so pages equal the
      * single-index iterator's. */
    def iterator(q: Array[Float], n: Int, nprobe: Int): Serve.ServingIterator =
      shardedIterator(scatter(shards)(_.search(q, n, nprobe)), metric.ascending)
    /** V5 across shards: range hits are shard-invariant (each doc's shell
      * membership depends only on its own distance), so the sorted union
      * of per-shard answers IS the single-index range answer. `radii` is
      * per-shard list-radius metadata, aligned with the shard list. */
    def rangeSearch(
        q: Array[Float],
        radius: Double,
        rangeFilter: Double,
        radii: Seq[java.util.HashMap[Long, Double]],
        allowed: Long => Boolean = null
    ): Seq[(Long, Double)] = {
      require(radii.length == shards.length,
        "per-shard radii metadata must align with the shard list")
      scatter(shards.zip(radii)) { case (s, r) =>
          s.rangeSearch(q, radius, rangeFilter, r, allowed)
        }.flatten
        .sortBy { case (id, d) => (d, id) }
    }
    def hasRawData: Boolean = shards.forall(_.hasRawData)
    def getVectorByIds(ids: Seq[Long]): Seq[(Long, Array[Float])] =
      unionById(ids, scatter(shards)(_.getVectorByIds(ids)))
  }

  /** Scatter-gather router over REFINED graph shards (quantized
    * traversal tier + raw refine per shard): every shard runs its own
    * walk-then-rescore and the host merges the EXACT (refined) distances
    * — so the merge is a plain (dist, id) top-k like the raw router's,
    * and per-shard refine windows compose the same way per-segment
    * reorder does on the IVF side. The bitset passes through unchanged
    * and is invoked concurrently across shards (see [[scatter]]): it
    * must be thread-safe and side-effect-free. */
  final class ShardedRefinedServing(
      shards: Seq[Serve.RefinedSearcher],
      metric: Metric
  ) {
    require(shards.nonEmpty, "router needs at least one shard")
    def enableCoarseEntries(probes: Int = 8): this.type = {
      shards.foreach(_.enableCoarseEntries(probes))
      this
    }
    def search(
        q: Array[Float], k: Int, ef: Int, refine: Int = 2): Seq[(Long, Double)] =
      mergeTopK(scatter(shards)(_.search(q, k, ef, refine)), k, metric.ascending)
    def search(
        q: Array[Float], k: Int, ef: Int, refine: Int,
        allowed: Long => Boolean): Seq[(Long, Double)] =
      mergeTopK(scatter(shards)(_.search(q, k, ef, refine, allowed)), k, metric.ascending)
    /** V8/V7 ride each shard's raw refine tier. */
    def hasRawData: Boolean = shards.forall(_.hasRawData)
    def getVectorByIds(ids: Seq[Long]): Seq[(Long, Array[Float])] =
      unionById(ids, scatter(shards)(_.getVectorByIds(ids)))
  }

  /** Scatter-gather router over QUANTIZED (coded) IVF shards — the host
    * segment layer over IVF_SQ8/IVF_PQ serving searchers. PRECONDITIONS
    * (asserted): every shard shares the coarse quantizer (probe-order
    * exactness, as [[ShardedIvfServing]]) AND the vector quantizer (SQ8
    * bounds / PQ codebooks) — per-shard ADC distances are comparable only
    * under one trained model (the collection-level Train-once contract,
    * `ivf.cc:440-654`).
    *
    * MERGE SEMANTICS: each segment reranks its own top-`reorderK` ADC
    * finalists and the host merges exact distances — the reference's
    * per-segment reorder contract. The union of per-shard finalist pools
    * is a SUPERSET of the single index's global-reorderK pool, so the
    * merged answer is at least as good per rank (never worse — asserted
    * in ServeSpec), and EQUAL whenever reorderK covers the probed docs.
    * Any `allowed` filter is invoked concurrently across shards (see
    * [[scatter]]): it must be thread-safe and side-effect-free. */
  final class ShardedIvfCodedServing(
      shards: Seq[Serve.LocalIvfCodedSearcher]
  ) {
    requireSharedCentroids(shards.map(_.engine))
    locally {
      val headQuant = shards.head.quantKey
      require(shards.forall(_.quantKey == headQuant),
        "sharded coded-IVF serving requires every shard coded under the same " +
          "trained quantizer (SQ8 bounds / PQ codebooks)")
    }
    def search(
        q: Array[Float], k: Int, nprobe: Int, reorderK: Int): Seq[(Long, Double)] =
      mergeTopK(scatter(shards)(_.search(q, k, nprobe, reorderK)), k, ascending = true)
    def search(
        q: Array[Float], k: Int, nprobe: Int, reorderK: Int,
        allowed: Long => Boolean): Seq[(Long, Double)] =
      mergeTopK(scatter(shards)(_.search(q, k, nprobe, reorderK, allowed)),
        k, ascending = true)
    /** V6: merged exact-rerank streams, paged. Each shard's rerank pool
      * widens to at least `n` — a pool smaller than the requested stream
      * depth would silently exhaust the pages at reorderK rows. */
    def iterator(q: Array[Float], n: Int, nprobe: Int, reorderK: Int): Serve.ServingIterator =
      shardedIterator(
        scatter(shards)(_.search(q, n, nprobe, math.max(reorderK, n))),
        ascending = true)
    def hasRawData: Boolean = shards.forall(_.hasRawData)
    def getVectorByIds(ids: Seq[Long]): Seq[(Long, Array[Float])] =
      unionById(ids, scatter(shards)(_.getVectorByIds(ids)))
  }

  /** Scatter-gather router over DiskANN serving shards — the host
    * segment layer over the `pq_code_budget_gb` deployment: every shard
    * beams its own coded tier and rescores its visited set from its raw
    * tier, so the merge is over EXACT distances and equals the top-k of
    * the union of per-shard answers (the per-segment search-list
    * contract — each segment searches its own L). `allowed` applies at
    * each shard's rescoring fetch (the batch `filter` semantics) and is
    * invoked concurrently across shards (see [[scatter]]): it must be
    * thread-safe and side-effect-free. */
  final class ShardedDiskAnnServing(shards: Seq[Serve.LocalDiskAnnSearcher]) {
    require(shards.nonEmpty, "router needs at least one shard")
    def search(q: Array[Float], k: Int): Seq[(Long, Double)] =
      mergeTopK(scatter(shards)(_.search(q, k)), k, ascending = true)
    def search(q: Array[Float], k: Int, allowed: Long => Boolean): Seq[(Long, Double)] =
      mergeTopK(scatter(shards)(_.search(q, k, allowed)), k, ascending = true)
    /** V6: merged exact-rescored streams, paged. */
    def iterator(q: Array[Float], n: Int): Serve.ServingIterator =
      shardedIterator(scatter(shards)(_.search(q, n)), ascending = true)
    def hasRawData: Boolean = shards.forall(_.hasRawData)
    def getVectorByIds(ids: Seq[Long]): Seq[(Long, Array[Float])] =
      unionById(ids, scatter(shards)(_.getVectorByIds(ids)))
  }

  /** Scatter-gather router over packed-binary shards (documents
    * partitioned across shards): per-shard scans are EXACT, so the merge
    * under (dist asc, id asc) equals the single-index answer over the
    * union bit-for-bit — the BIN_FLAT Search verb across segments
    * (`brute_force.cc:212-236`). The bitset passes through unchanged and
    * is invoked concurrently across shards (see [[scatter]]): it must be
    * thread-safe and side-effect-free. */
  final class ShardedBinaryServing(shards: Seq[Serve.LocalBinarySearcher]) {
    require(shards.nonEmpty, "router needs at least one shard")
    def search(q: Array[Long], k: Int): Seq[(Long, Double)] =
      mergeTopK(scatter(shards)(_.search(q, k)), k, ascending = true)
    def search(
        q: Array[Long], k: Int,
        allowed: Long => Boolean): Seq[(Long, Double)] =
      mergeTopK(scatter(shards)(_.search(q, k, allowed)), k, ascending = true)
    /** V6 across shards: per-shard exact scans of depth n merge into one
      * paged stream — completes verb uniformity on the binary router
      * (`index_node.h:148-153`). Exact arms ⇒ pages equal the
      * single-index iterator's page for page. */
    def iterator(q: Array[Long], n: Int): Serve.ServingIterator =
      shardedIterator(scatter(shards)(_.search(q, n)), ascending = true)
    def iterator(
        q: Array[Long], n: Int,
        allowed: Long => Boolean): Serve.ServingIterator =
      shardedIterator(scatter(shards)(_.search(q, n, allowed)), ascending = true)
    /** V5 across shards: shell membership is per-doc, so the sorted
      * union of per-shard answers IS the single-index range answer. */
    def rangeSearch(
        q: Array[Long], radius: Double, rangeFilter: Double,
        allowed: Long => Boolean = null): Seq[(Long, Double)] =
      scatter(shards)(_.rangeSearch(q, radius, rangeFilter, allowed))
        .flatten
        .sortBy { case (id, d) => (d, id) }
    def hasRawData: Boolean = shards.forall(_.hasRawData)
    def getVectorByIds(ids: Seq[Long]): Seq[(Long, Array[Long])] =
      unionById(ids, scatter(shards)(_.getVectorByIds(ids)))
  }
}
