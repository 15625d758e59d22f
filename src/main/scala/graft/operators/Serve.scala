package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Per-query SEQUENTIAL graph traversal — the online-serving latency
  * semantics that round 5 named the honest boundary of the batch engine:
  * the reference walks each query's beam adaptively with ef-driven early
  * exit (`src/index/hnsw/impl/IndexHNSWWrapper.cc:70-230` driving
  * `faiss/cppcontrib/knowhere/impl/HnswSearcher.h:296-420`: a NeighborSet
  * of size max(ef, k), pop-best / expand / insert, terminating when the
  * popped candidate is farther than the worst retained neighbor).
  *
  * The batch twin (`GraphSearch.beamSearchConverged`) covers THROUGHPUT —
  * thousands of queries per relational hop. This adapter covers LATENCY:
  * single-query serving against a LOADED graph shard, which is the
  * reference's own serving model (the graph lives in the serving node's
  * memory; Spark's role at 100 TB is building/sharding that graph, the
  * per-query walk is not a distributed job). The load is a bounded collect
  * with a loud guard, same convention as every other driver-side
  * materialization in the repo.
  *
  * Determinism contract: distances rounded at 4dp BEFORE comparison, ties
  * broken by node id — identical to the batch/oracle contract, so the
  * ScalaTest gates can assert exact set-equality against the relational
  * beam given the same graph and seeds.
  */
object Serve {

  /** Vector cap of one float or coded serving shard (graph, IVF and
    * DiskANN tiers): a shard past it belongs on more serving nodes. */
  private val MaxShardVectors = 2000000L
  /** Cap of one packed-binary shard's vectors or one sparse shard's
    * postings — rows a few words wide, so the cap is 25× the float one. */
  private val MaxShardCompactRows = 50000000L

  /** Partition-streamed, capped driver fill — the one materialization
    * primitive of every shard loader. `toLocalIterator` pulls ONE
    * partition at a time into the driver, so peak driver memory during a
    * load is bounded by the largest partition, not the whole shard — the
    * collect-free analog of the reference's mmap load path
    * (`feature.h:40-46`, `enable_mmap`: the index is paged in, never
    * duplicated through a serialization buffer). The cap bounds the
    * RESIDENT shard (which still ends up fully in serving memory, as it
    * must) and is checked while streaming: each row adds `weight(row)`
    * items (1, or a grouped row's list length), and item cap + 1 throws
    * `IllegalArgumentException` — no pre-count job, no second execution
    * of the input plan. */
  private[graft] def streamRows(df: DataFrame, cap: Long, weight: Row => Int = _ => 1)(
      f: Row => Unit): Unit = {
    import scala.jdk.CollectionConverters._
    var n = 0L
    df.toLocalIterator().asScala.foreach { r =>
      n += weight(r)
      require(n <= cap,
        s"serving shard has more than $cap rows — shard the index across serving nodes")
      f(r)
    }
  }

  // payload decoders of an (id, payload) row — a tier row or a grouped
  // list's struct alike
  private val floatVec: Row => Array[Float] = _.getSeq[Float](1).toArray
  private val longVec: Row => Array[Long] = _.getSeq[Long](1).toArray
  private val codeBytes: Row => Array[Byte] = _.getSeq[Int](1).map(_.toByte).toArray
  private val packedBytes: Row => Array[Byte] = _.getAs[Array[Byte]](1)

  /** id → payload map of a shard's `(id, payload)` tier. */
  private def vectorMap[V](tier: DataFrame)(payload: Row => V): java.util.HashMap[Long, V] = {
    val m = new java.util.HashMap[Long, V]()
    streamRows(tier, MaxShardVectors)(r => m.put(r.getLong(0), payload(r)))
    m
  }

  /** Serving-side V7 order (`index_node.h:340-341`): the requested ids'
    * entries of `m` in request order; absent ids are skipped. */
  private def inRequestOrder[V](ids: Seq[Long], m: java.util.HashMap[Long, V]): Seq[(Long, V)] =
    ids.flatMap(id => Option(m.get(id)).map(id -> _))

  /** `src → sorted dst` adjacency of a graph shard. */
  private def adjacency(graph: DataFrame): java.util.HashMap[Long, Array[Long]] =
    vectorMap(graph.groupBy(col("src")).agg(sort_array(collect_list(col("dst")))))(longVec)

  /** A graph shard's entry ids, sorted — at least one. */
  private def entryIds(entries: DataFrame): Array[Long] = {
    val es = entries.collect().map(_.getLong(0)).sorted
    require(es.nonEmpty, "serving needs at least one entry point")
    es
  }

  /** A shard's coarse quantizer sorted by cluster id. List ids normalize
    * to LONG — build paths differ (trained centroids carry INT ids,
    * explicit-centroid frames LONG). */
  private def centroidsOf[V](centroids: DataFrame)(
      payload: Row => Array[V]): Array[(Long, Array[V])] =
    centroids.select(col("cluster_id").cast("long"), col("centroid")).collect()
      .map(r => r.getLong(0) -> payload(r))
      .sortBy(_._1)

  /** Per-group `(ids, payload rows)` collect: `frame` grouped by `key`,
    * each group's (id, `value`) structs sorted by id, the aggregated
    * `stats` from column 2 of the grouped row on; capped over the rows of
    * all groups. */
  private def groups(frame: DataFrame, key: Column, value: String, cap: Long, stats: Column*)(
      put: (Row, Array[Long], Seq[Row]) => Unit): Unit =
    streamRows(frame.groupBy(key)
        .agg(sort_array(collect_list(struct(col("id"), col(value)))), stats: _*),
      cap, _.getSeq[Row](1).size) { r =>
      val rows = r.getSeq[Row](1)
      put(r, rows.map(_.getLong(0)).toArray, rows)
    }

  /** An IVF shard's lists: cluster id → (ids, payloads) sorted by id,
    * `value` evaluated per row of `index` (the stored vector or its
    * codes). */
  private def ivfLists[V: scala.reflect.ClassTag](
      index: DataFrame, value: Column, cap: Long = MaxShardVectors)(
      payload: Row => V): java.util.HashMap[Long, (Array[Long], Array[V])] = {
    val lm = new java.util.HashMap[Long, (Array[Long], Array[V])]()
    groups(index.select(col("cluster_id").cast("long").as("cluster_id"), col("id"), value.as("v")),
        col("cluster_id"), "v", cap) { (r, ids, rows) =>
      lm.put(r.getLong(0), (ids, rows.map(payload).toArray))
    }
    lm
  }

  /** Round exactly as Spark's `round(col, n)` does (BigDecimal HALF_UP on
    * the double's shortest decimal repr) — NOT `rint(x·10ⁿ)/10ⁿ`, whose
    * fp multiply can cross a .5 boundary the decimalization doesn't (the
    * round-4 oracle-divergence mechanism). Serving must match the batch
    * plans bit-for-bit, so it rounds the same way.
    *
    * HOT PATH: this runs once per candidate that passes a serving scan's
    * raw-sum gate (every candidate for IP/cosine; see
    * `ServeKernels.l2Gate`), and a BigDecimal allocation per candidate
    * measured ~2 µs/candidate
    * (≈10× the distance arithmetic itself). Away from the .5 boundary
    * the decimal HALF_UP choice provably equals the plain floor pick —
    * the shortest-repr decimal and the double product x·10ⁿ differ by
    * O(1e-15·|x·10ⁿ|), far inside the 1e-6 guard band for every distance
    * magnitude here — so only boundary-band values (and the sign-split
    * half-up choice there) take the exact BigDecimal path. Agreement is
    * re-verified by every ServeSpec equality gate, which compares
    * thousands of serving distances against the batch `round(col, n)`. */
  private[graft] def sparkRound(x: Double, n: Int): Double =
    graft.plans.FastRound.round(x, n)

  /** Binary metric over packed signatures — the single arithmetic shared
    * by the flat and IVF binary searchers (Hamming = integer popcount of
    * xor, exact; Jaccard = 1 − |and|/|or| under the 4dp contract),
    * reproducing `VectorFunctions.hamming/jaccardDist` exactly. The
    * caller has checked the query's word count against the shard's. */
  private def binaryDist(
      metric: Metric, roundDist: Int,
      q: Array[Long], v: Array[Long]): Double = {
    val n = q.length
    if (metric == Metric.Hamming) {
      var h = 0L
      var i = 0
      while (i < n) { h += java.lang.Long.bitCount(q(i) ^ v(i)); i += 1 }
      h.toDouble
    } else {
      var inter = 0L
      var uni = 0L
      var i = 0
      while (i < n) {
        inter += java.lang.Long.bitCount(q(i) & v(i))
        uni += java.lang.Long.bitCount(q(i) | v(i))
        i += 1
      }
      if (uni == 0L) 0.0d
      else sparkRound(1.0d - inter.toDouble / uni.toDouble, roundDist)
    }
  }

  /** Search statistics mirroring faiss `HNSWStats`: distance evaluations
    * and hop (pop) count — the instrumentation the early-exit gates read. */
  final case class ServeStats(ndis: Long, nhops: Long)

  final class LocalGraphSearcher(
      graph: java.util.HashMap[Long, Array[Long]],
      vecs: java.util.HashMap[Long, Array[Float]],
      entries: Array[Long],
      metric: Metric,
      roundDist: Int = 4,
      hasRaw: Boolean = true,
      // PACKED STORAGE TIER (loadPacked): binary16/bfloat16 vectors kept
      // as 2-byte-packed buffers and decoded inline per evaluation — the
      // serving twin of the batch packed kernels (`plans/Half.scala`,
      // operands.h:48-147 real 2-byte storage with fp32 compute,
      // :180-198). Halves the RESIDENT shard bytes, i.e. doubles the
      // corpus a serving node holds under the same cap. Decode is exact
      // (binary16/bfloat16 ⊂ fp32) and accumulation order matches the
      // float path, so a packed searcher is bit-identical to a float
      // searcher loaded from the decoded (grid) vectors.
      packed: java.util.HashMap[Long, Array[Byte]] = null,
      // decode-inline closure for the packed tier: fp16/bf16 halves,
      // int8 dequantization, SQ8 midpoint recon, PQ codeword concat —
      // each loader passes its own exact-grid decoder (see loadPacked*)
      packedDecode: Array[Byte] => Array[Float] = null
  ) {
    import ServeKernels._

    @volatile var lastStats: ServeStats = ServeStats(0L, 0L)

    // SLOTS: the shard's ids ascending, so slot order IS id order and the
    // walk's (key, slot) heaps break ties exactly as (key, id) did. The
    // vectors, packed buffers and adjacency are slot-indexed arrays.
    private val ids: Array[Long] = {
      val ks = if (packed != null) packed.keySet() else vecs.keySet()
      val a = new Array[Long](ks.size)
      var i = 0
      val it = ks.iterator()
      while (it.hasNext) { a(i) = it.next(); i += 1 }
      java.util.Arrays.sort(a)
      a
    }
    private def slotOf(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
    private def requireSlot(id: Long, what: => String): Int = {
      val s = slotOf(id)
      require(s >= 0, s"$what $id has no vector in this shard")
      s
    }
    private val floats: Array[Array[Float]] = if (packed != null) null else ids.map(vecs.get)
    private val packs: Array[Array[Byte]] = if (packed != null) ids.map(packed.get) else null
    private val adj: Array[Array[Int]] = ids.map { id =>
      val dst = graph.get(id)
      if (dst == null) Array.emptyIntArray else dst.map(requireSlot(_, s"graph edge $id →"))
    }
    private val entrySlots: Array[Int] = entries.map(requireSlot(_, "entry point"))

    private def vec(slot: Int): Array[Float] =
      if (packs != null) packedDecode(packs(slot)) else floats(slot)

    /** Vector dimension of the shard (0 when it is empty). */
    private val dim: Int = {
      if (ids.isEmpty) 0
      else {
        val d = vec(0).length
        if (floats != null) floats.foreach(v =>
          require(v.length == d, s"shard vectors of mixed dimension: ${v.length} and $d"))
        d
      }
    }

    private val scratch = ThreadLocal.withInitial[WalkScratch](
      () => new WalkScratch(ids.length, entrySlots.length))

    /** Resident bytes of the vector tier this shard traverses (packed
      * buffers or fp32 arrays; ids + adjacency excluded) — the serving-
      * memory observable the SCALE_RUN lines report. */
    def residentVectorBytes: Long =
      if (packs != null) packs.iterator.map(_.length.toLong).sum
      else floats.iterator.map(_.length.toLong * 4L).sum

    // COARSE ENTRY LAYER (opt-in, [[enableCoarseEntries]]): the
    // entry-selection analog of the reference's own two-level designs —
    // HNSW's upper layers (`IndexHNSWWrapper.cc:70-230`) and IVF's
    // coarse quantizer both shrink "find the nearest start point" to a
    // coarse scan + a bounded fine scan. With E flat entries the default
    // seeding scans all E per query for the argmin; the coarse layer
    // approximates that argmin the IVF way: ~√E stride-sampled ANCHOR
    // entries partition the entry set into nearest-anchor buckets at
    // enable time; a query scans the anchors, probes the `probes`
    // nearest buckets, and takes the argmin over everything evaluated.
    // The HANDOFF is exactly flat's — the single best entry — so given a
    // correct argmin the base walk below is BIT-IDENTICAL to the flat
    // walk and recall deviates only on bucket-probe misses. Two GRAPH
    // designs were tried first and measured worse at nb=200k (64-dim,
    // where distance concentration defeats navigation over a 2k-point
    // kNN entry graph): multi-start greedy descents handed off 0.475
    // recall@10 vs flat's 0.894 (greedy stalls basins away from the
    // true nearest entry), and a width-nCand best-first beam landed at
    // 0.650 whether it handed off its whole frontier or just its best
    // (the beam itself misses the argmin ~1/3 of the time) — while
    // bucket probing on the same data is near-exact (the in-repo IVF
    // measures recall 1.0 at nprobe 4/64). Seeding cost falls from E to
    // ~√E + probes·(E/√E) evaluations (memoized, all counted in ndis);
    // exhaustive-walk exactness is untouched and bounded-ef recall
    // keeps its gates.
    // volatile, and coarseBuckets is written LAST in enableCoarseEntries:
    // searchImpl branches on coarseBuckets != null, so a searcher thread
    // (the routers scatter onto a pool) either sees the fully-published
    // layer or the flat path — never torn state
    @volatile private var coarseAnchors: Array[Int] = null // entry indices, id-ordered sample
    @volatile private var coarseProbes: Int = 8
    @volatile private var coarseBuckets: Array[Array[Int]] = null // per-anchor member entry indices

    /** Build the entry-layer bucket assignment (driver-side, E·√E·dim
      * once at enable time — entries are ≪ nodes by construction).
      * Anchors are a stride sample of the ID-SORTED entry list (stable
      * across load orders); assignment uses raw distances with ties to
      * the lower anchor id (the layer is a routing heuristic; the 4dp
      * answer contract applies to the walk, not the seed). */
    def enableCoarseEntries(probes: Int = 8): this.type = {
      coarseProbes = math.max(1, probes)
      val e = entries.length
      def rawDist(a: Array[Float], b: Array[Float]): Double = {
        var s = 0.0d; var i = 0
        metric match {
          case Metric.IP | Metric.Cosine =>
            var na = 0.0d; var nb = 0.0d
            while (i < a.length) {
              s += a(i).toDouble * b(i).toDouble
              na += a(i).toDouble * a(i).toDouble
              nb += b(i).toDouble * b(i).toDouble
              i += 1
            }
            val d = if (metric == Metric.Cosine) s / (math.sqrt(na) * math.sqrt(nb)) else s
            -d // similarity → smaller-is-better
          case _ => l2Sum(a, b)
        }
      }
      val stride = math.max(1, math.floor(math.sqrt(e.toDouble)).toInt)
      val byId = Array.range(0, e).sortBy(entries(_))
      val anchors = (0 until e by stride).map(byId(_)).toArray
      // hoist the ~√E anchor vectors once — on the packed tier vec
      // decodes + allocates per call, and the assignment loop below
      // would otherwise pay E·√E decodes instead of √E
      val anchorVecs = anchors.map(a => vec(entrySlots(a)))
      val members = Array.fill(anchors.length)(
        new scala.collection.mutable.ArrayBuffer[Int])
      var i = 0
      while (i < e) {
        val vi = vec(entrySlots(i))
        var bi = 0
        var bd = Double.PositiveInfinity
        var a = 0
        while (a < anchors.length) {
          val d = rawDist(vi, anchorVecs(a))
          if (d < bd ||
            (d == bd && entries(anchors(a)) < entries(anchors(bi)))) {
            bd = d; bi = a
          }
          a += 1
        }
        members(bi) += i
        i += 1
      }
      coarseAnchors = anchors
      coarseBuckets = members.map(_.toArray) // published LAST (the branch flag)
      this
    }

    /** Serving-side V8 probe (`index_node.h:349-350`): whether this
      * shard's vector tier is the RAW data. A quantized traversal tier
      * (the SQ/PQ serving shape) answers false — fetch from the refined
      * searcher's raw tier instead, exactly the reference's contract. */
    def hasRawData: Boolean = hasRaw

    /** Serving-side V7 (`index_node.h:340-341` GetVectorByIds): raw
      * vectors for the requested ids in request order; ids absent from
      * this shard are skipped (the batch verb's left-semi shape — a
      * router unions the per-shard answers). */
    def getVectorByIds(ids: Seq[Long]): Seq[(Long, Array[Float])] = {
      require(hasRaw,
        "this shard holds a quantized tier only — GetVectorByIds needs raw data")
      ids.flatMap { id =>
        val s = slotOf(id)
        if (s >= 0) Some(id -> vec(s)) else None
      }
    }

    private def dist(q: Array[Float], slot: Int): Double =
      ServeKernels.dist(metric, roundDist, q, vec(slot))

    private def allowedSlot(allowed: Long => Boolean, slot: Int): Boolean =
      allowed == null || allowed(ids(slot))

    /** Best-first beam with ef-driven early exit (HnswSearcher.h
      * search_on_a_level): candidates pop best-first; a popped candidate
      * worse than the worst of the full ef-set terminates the walk.
      * Per-query latency lands in the Telemetry registry under the
      * "SERVE"/"search" verb — the index.cc TimeRecorder analog at the
      * granularity the reference actually records (one sample per query). */
    def search(q: Array[Float], k: Int, ef: Int): Seq[(Long, Double)] =
      Telemetry.timed("SERVE", "search")(searchImpl(q, k, ef, null))

    /** Bitset-filtered walk — the reference's universal filter contract
      * (every searchKnn takes a bitset; `knowhere::BitsetView`): FILTERED
      * nodes still ROUTE the traversal (dropping them would disconnect
      * the graph) but never enter the answer set. */
    def search(q: Array[Float], k: Int, ef: Int, allowed: Long => Boolean): Seq[(Long, Double)] =
      Telemetry.timed("SERVE", "search")(searchImpl(q, k, ef, allowed))

    /** Linear exact scan over this shard's resident vector tier — the
      * reference's conditional-wrapper FALLBACK under heavy filters
      * (`IndexConditionalWrapper.cc:34-95`: k ≥ 0.5·surviving or
      * filtered-out ≥ 0.93 drops the graph for brute force over the same
      * vectors, thresholds `IndexConditionalWrapper.h:27-29`). Exact by
      * construction, same distance contract and (dist, id) order as the
      * walk — a query whose filter starves the graph gets the answer the
      * wrapper would return. */
    def bruteSearch(
        q: Array[Float], k: Int,
        allowed: Long => Boolean = null): Seq[(Long, Double)] =
      Telemetry.timed("SERVE", "search_bf_fallback") {
        requireK(k)
        requireDim(q, dim)
        val asc = metric.ascending
        val heap = new BoundedHeap(k)
        var s = 0
        while (s < ids.length) {
          if (allowedSlot(allowed, s)) {
            val d = dist(q, s)
            heap.offer(if (asc) d else -d, ids(s))
          }
          s += 1
        }
        heap.ranked(asc)
      }

    /** Exact V5 over the resident raw tier — the serving analog of the
      * reference's IDMAP range row (`benchmark_float_range.cpp:235-245`:
      * brute-force is the range benchmark's baseline family). One linear
      * scan, shell per the metric's direction, (dist, id)-ordered;
      * recall 1.0 by construction, QPS is the measurement. */
    def bruteRangeSearch(
        q: Array[Float], radius: Double, rangeFilter: Double,
        allowed: Long => Boolean = null): Seq[(Long, Double)] =
      Telemetry.timed("SERVE", "range_bf_fallback") {
        requireDim(q, dim)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
        var s = 0
        while (s < ids.length) {
          if (allowedSlot(allowed, s)) {
            val d = dist(q, s)
            val in =
              if (metric.ascending) d >= rangeFilter && d < radius
              else d <= rangeFilter && d > radius
            if (in) out += ((ids(s), d))
          }
          s += 1
        }
        val res = out.toSeq
        if (metric.ascending) res.sortBy { case (id, d) => (d, id) }
        else res.sortBy { case (id, d) => (-d, id) }
      }

    /** Per-query range search from the ef-bounded walk — the reference
      * derives graph range results from the beam stream
      * (`faiss_hnsw.cc:1319-1478`), same as the batch
      * `GraphSearch.rangeSearch` keeps its frontier's shell members: the
      * walk retains its ef best, and those inside the shell (per-metric
      * direction, the V5 contract) are the answer, (dist, id)-ordered.
      * ef ≥ n on a connected graph recovers the exact range —
      * ServeSpec-gated against the batch brute-force range. */
    def rangeSearch(
        q: Array[Float], radius: Double, rangeFilter: Double, ef: Int,
        allowed: Long => Boolean = null): Seq[(Long, Double)] =
      Telemetry.timed("SERVE", "range_graph") {
        require(ef >= 1, s"beam width ef must be >= 1, got $ef")
        val pool = searchImpl(q, ef, ef, allowed)
        pool.filter { case (_, d) =>
          if (metric.ascending) d >= rangeFilter && d < radius
          else d > radius && d <= rangeFilter
        }
      }

    private def searchImpl(
        q: Array[Float], k: Int, ef: Int, allowed: Long => Boolean): Seq[(Long, Double)] = {
      requireK(k)
      require(ef >= k, "beam width ef must be >= k")
      requireDim(q, dim)
      val asc = metric.ascending
      // order: better = smaller (dist, id) for ascending metrics, larger
      // dist first for similarity — normalize by negating similarity
      def key(d: Double): Double = if (asc) d else -d
      val sc = scratch.get()
      sc.reset()
      var ndis = 0L
      var nhops = 0L
      // greedy upper-level descent restated: seed with the BEST entry
      // (the reference descends to one nearest entry before the level-0
      // beam; with a flat multi-entry graph the argmin over entries is
      // that descent's outcome). With the coarse layer enabled the argmin
      // is approximated in ~√E + probes·√E evaluations instead of E —
      // see [[enableCoarseEntries]].
      val nCand = math.max(ef, k)
      var best = entrySlots(0)
      var bestD = dist(q, best); ndis += 1
      val buckets = coarseBuckets
      if (buckets == null) {
        var i = 1
        while (i < entrySlots.length) {
          val d = dist(q, entrySlots(i)); ndis += 1
          if (before(key(d), entrySlots(i), key(bestD), best)) { best = entrySlots(i); bestD = d }
          i += 1
        }
      } else {
        // Coarse argmin: scan the ~√E anchors, probe the `probes`
        // nearest anchors' buckets, argmin over everything evaluated.
        // Memoized so an entry evaluated as both anchor and bucket
        // member is charged once; every evaluation counts in ndis.
        def entryDist(idx: Int): Double =
          if (sc.entryKnown(idx)) sc.entryDist(idx)
          else {
            val d = dist(q, entrySlots(idx)); ndis += 1
            sc.remember(idx, d); d
          }
        sc.remember(0, bestD)
        val anchors = coarseAnchors
        val aOrder = Array.range(0, anchors.length)
          .map(a => (key(entryDist(anchors(a))), a))
          .sortBy { case (d, a) => (d, entries(anchors(a))) }
        var p = 0
        val probes = math.min(coarseProbes, aOrder.length)
        while (p < probes) {
          val bucket = buckets(aOrder(p)._2)
          var j = 0
          while (j < bucket.length) { entryDist(bucket(j)); j += 1 }
          p += 1
        }
        // hand the base walk ONLY the best evaluated entry — exactly
        // flat's handoff shape, so given a correct argmin the walk below
        // is BIT-IDENTICAL to the flat walk. (Multi-seeding the walk with
        // every evaluated entry measured 0.650 recall@10 at nb=200k vs
        // flat's 0.894: pre-filling `result` raises the early-exit bar
        // before the walk has done the multi-hop descent a short-link kNN
        // base graph needs — flat's slowly-filling pool forces that
        // exploration, and the coarse layer must not remove it.)
        var bi = -1
        var biD = 0.0d
        var j = 0
        while (j < sc.evaluated) {
          val idx = sc.evalOrder(j)
          val d = sc.entryDist(idx)
          if (bi < 0 || before(key(d), entrySlots(idx), key(biD), entrySlots(bi))) {
            bi = idx; biD = d
          }
          j += 1
        }
        best = entrySlots(bi); bestD = biD
      }
      // TWO-POOL admission (hnswlib searchBaseLayerST / faiss_hnsw.cc
      // filtered walk): `cand` routes EVERY admissible node — dropping
      // filtered nodes there would disconnect the graph — but `result`
      // (the bounded ef-set whose worst member drives both early exit and
      // neighbor admission) holds ALLOWED nodes only, so a selective
      // bitset can never pollute the answer set's capacity or terminate
      // the walk against a disallowed worst-element. An L2 neighbor whose
      // raw sum is past the full result's [[ServeKernels.l2Gate]] could
      // never be admitted, so it skips its sqrt and round.
      val cand = new MinQueue
      val result = new BoundedHeap(nCand)
      val unit = math.pow(10d, -roundDist.toDouble)
      val l2 = gated(metric)
      var gate = Double.PositiveInfinity
      def admit(kd: Double, slot: Int): Unit = {
        cand.push(kd, slot)
        if (allowedSlot(allowed, slot) && result.offer(kd, slot) && l2 && result.full)
          gate = l2Gate(result.worstKey, unit, metric)
      }
      admit(key(bestD), best)
      sc.visit(best)
      var done = false
      while (!done && cand.nonEmpty) {
        val cd = cand.topKey
        val cs = cand.topSlot
        cand.pop()
        // ef early exit: the best remaining candidate cannot improve the
        // retained set once it is full and cd is past its worst member
        if (result.full && before(result.worstKey, result.worstId, cd, cs)) done = true
        else {
          nhops += 1
          val nbs = adj(cs)
          var j = 0
          while (j < nbs.length) {
            val nb = nbs(j)
            if (sc.visit(nb)) {
              ndis += 1
              if (!l2) {
                val kd = key(ServeKernels.dist(metric, roundDist, q, vec(nb)))
                if (!result.full || before(kd, nb, result.worstKey, result.worstId)) admit(kd, nb)
              } else {
                val s = l2Sum(q, vec(nb))
                if (!(s > gate)) {
                  val kd = finishL2(metric, roundDist, s)
                  if (!result.full || before(kd, nb, result.worstKey, result.worstId)) admit(kd, nb)
                }
              }
            }
            j += 1
          }
        }
      }
      lastStats = ServeStats(ndis, nhops)
      val (ks, ss) = result.drain()
      val n = math.min(k, ks.length)
      Array.tabulate(n)(j => (ids(ss(j).toInt), if (asc) ks(j) else -ks(j))).toSeq
    }
  }

  /** Quantized-traversal serving with exact refine — the HNSW_SQ/PQ
    * serving shape (`faiss_hnsw.cc:739-860` refine loop): the walk runs
    * on the searcher's (reconstructed/quantized) vectors, over-fetching
    * `refine` × k candidates, then the RAW tier rescores exactly and
    * re-ranks under the same 4dp/ties-by-id contract. */
  final class RefinedSearcher(
      approx: LocalGraphSearcher,
      raw: java.util.HashMap[Long, Array[Float]],
      metric: Metric,
      roundDist: Int = 4
  ) {

    /** The refine tier IS the raw data (`faiss_hnsw.cc` refine-flat
      * storage), so the refined searcher answers the V7/V8 verbs even
      * though its traversal tier is quantized. */
    def hasRawData: Boolean = true

    /** Coarse entry selection on the quantized traversal tier — the
      * walk seeds from the tier it traverses, so the layer delegates to
      * [[LocalGraphSearcher.enableCoarseEntries]] unchanged; the raw
      * refine pass is unaffected (it rescores the walk's window). */
    def enableCoarseEntries(probes: Int = 8): this.type = {
      approx.enableCoarseEntries(probes)
      this
    }
    def getVectorByIds(ids: Seq[Long]): Seq[(Long, Array[Float])] = inRequestOrder(ids, raw)
    def search(q: Array[Float], k: Int, ef: Int, refine: Int = 2): Seq[(Long, Double)] =
      search(q, k, ef, refine, null)

    /** Bitset-filtered refined search — the reference's refine loop takes
      * the same BitsetView the walk does (`faiss_hnsw.cc:739-860`): the
      * quantized walk applies two-pool filtered admission, so the
      * over-fetched window is allowed-only and the raw rescoring needs no
      * second filter. */
    def search(
        q: Array[Float], k: Int, ef: Int, refine: Int,
        allowed: Long => Boolean): Seq[(Long, Double)] =
      Telemetry.timed("SERVE", "search_refined") {
        val overK = math.min(math.max(k * refine, k), ef)
        val over =
          if (allowed == null) approx.search(q, overK, ef)
          else approx.search(q, overK, ef, allowed)
        val rescored = over.map { case (id, _) =>
          (id, ServeKernels.dist(metric, roundDist, q, raw.get(id)))
        }
        val asc = metric.ascending
        rescored
          .sortBy { case (id, d) => (if (asc) d else -d, id) }
          .take(k)
      }
  }

  /** [[load]] with a quantized traversal tier + raw refine tier. */
  def loadRefined(
      graph: DataFrame, // (src, dst)
      approx: DataFrame, // (id, vec) — reconstructed/quantized tier
      base: DataFrame, // (id, vec) — raw rerank tier
      entries: DataFrame, // (nid)
      metric: Metric = Metric.L2
  ): RefinedSearcher =
    // the traversal tier is quantized/reconstructed — it answers V8 false
    new RefinedSearcher(load(graph, approx, entries, metric, hasRaw = false),
      vectorMap(base)(floatVec), metric)

  /** [[loadRefined]] for the EXACT variant (traversal tier == raw tier):
    * the corpus streams ONCE into a single map shared by the walk and the
    * rescore — half the resident bytes of loading two identical tiers.
    * The rescore over the same vectors is a no-op reordering; kept so
    * every variant serves through one refined verb. */
  def loadRefinedShared(
      graph: DataFrame, // (src, dst)
      base: DataFrame, // (id, vec)
      entries: DataFrame, // (nid)
      metric: Metric = Metric.L2
  ): RefinedSearcher = {
    val adj = adjacency(graph)
    val vm = vectorMap(base)(floatVec)
    new RefinedSearcher(new LocalGraphSearcher(adj, vm, entryIds(entries), metric), vm, metric)
  }

  /** The IVF list engine under the float, coded and binary serving arms —
    * the reference's one probe and list loop over a per-type code
    * (`ivf.cc:66-1276`; faiss's shared `InvertedLists`). Centroids and
    * lists are position-aligned arrays: list p holds centroid p's members
    * as the loaders sorted them (a centroid without members holds an
    * empty list, members of a list without a centroid are unreachable and
    * dropped). The engine ranks the probe, runs the probed-list loop,
    * answers V7 and counts the resident bytes; an arm supplies only its
    * list-scan kernel. A flat shard is one list and no centroids. */
  private[operators] final class IvfLists[C <: AnyRef, V <: AnyRef](
      val centIds: Array[Long],
      val cents: Array[C],
      val ids: Array[Array[Long]],
      val vecs: Array[Array[V]]) {

    /** List positions by (key of the rounded centroid distance `dist`,
      * cluster id) — the batch probe's order, nearest first, so a top-k
      * heap fills early and its gate tightens; scan order never changes an
      * answer (the top-k and the shell are order-free). */
    def probeOrder(metric: Metric)(dist: C => Double): Array[Int] =
      Array.tabulate(centIds.length) { p =>
        val d = dist(cents(p))
        (if (metric.ascending) d else -d, centIds(p), p)
      }.sorted(Ordering.Tuple3(Ordering.Double.TotalOrdering, Ordering.Long, Ordering.Int))
        .map(_._3)

    /** Scan the lists at ranks [from, until) of `order` with `scanList`,
      * returning the candidates it counted. */
    def scan(order: Array[Int], from: Int, until: Int)(scanList: Int => Long): Long = {
      var n = 0L
      var r = math.max(from, 0)
      val end = math.min(until, order.length)
      while (r < end) { n += scanList(order(r)); r += 1 }
      n
    }

    /** Resident payload bytes: per member its 8-byte id and its vector,
      * codes or signature; per centroid its id and vector. */
    def residentBytes: Long = {
      def bytes(a: AnyRef): Long = a match {
        case f: Array[Float] => 4L * f.length
        case b: Array[Byte] => b.length.toLong
        case l: Array[Long] => 8L * l.length
      }
      ids.iterator.map(8L * _.length).sum + vecs.iterator.flatten.map(bytes).sum +
        cents.iterator.map(8L + bytes(_)).sum
    }

    /** The one length of every centroid and member vector (0 for an empty
      * shard); `IllegalArgumentException` naming `what` on mixed lengths. */
    def width(what: String): Int = {
      val lens = (cents.iterator ++ vecs.iterator.flatten).map(java.lang.reflect.Array.getLength(_))
      val w = if (lens.hasNext) lens.next() else 0
      lens.foreach(l => require(l == w, s"$what: $l and $w"))
      w
    }

    // id → member vector, built once on the first V7 call (references
    // only — the vectors are shared with the lists)
    private lazy val byId: java.util.HashMap[Long, V] = {
      val m = new java.util.HashMap[Long, V]()
      for (p <- ids.indices; i <- ids(p).indices) m.put(ids(p)(i), vecs(p)(i))
      m
    }

    /** Serving-side V7: the members' stored vectors in request order;
      * absent ids are skipped. */
    def vectorsByIds(want: Seq[Long]): Seq[(Long, V)] = inRequestOrder(want, byId)
  }

  /** The [[IvfLists]] over `cents` (sorted by cluster id) and the
    * loaders' cluster id → (ids, vectors) lists. */
  private def engineOf[C <: AnyRef: scala.reflect.ClassTag, V <: AnyRef: scala.reflect.ClassTag](
      cents: Array[(Long, C)],
      lists: java.util.HashMap[Long, (Array[Long], Array[V])]): IvfLists[C, V] = {
    val centIds = cents.map(_._1)
    val members = centIds.map(cid => Option(lists.get(cid)).getOrElse((Array.emptyLongArray, Array.empty[V])))
    new IvfLists(centIds, cents.map(_._2), members.map(_._1), members.map(_._2))
  }

  /** Per-query IVF serving — the probed-list search run sequentially over
    * a loaded shard (`ivf.cc:700-760` per-query probe + list scan):
    * nprobe nearest centroids by the same rounded-distance/(dist, cid)
    * order the batch probe states, then exact rescoring of the probed
    * lists only, ranked (dist, id). Bit-identical to the batch
    * `IvfIndex.search` by the shared rounding/tie contract — gated by
    * equality, not recall. `lastCandidates` is the probed-scan size
    * (the nprobe/nlist cost model's observable). */
  final class LocalIvfSearcher(
      cents: Array[(Long, Array[Float])], // sorted by cluster_id
      lists: java.util.HashMap[Long, (Array[Long], Array[Array[Float]])],
      metric: Metric,
      roundDist: Int = 4
  ) {
    import ServeKernels._

    @volatile var lastCandidates: Long = 0L

    private[operators] val engine = engineOf(cents, lists)
    private val dim: Int = engine.width("IVF shard vectors of mixed dimension")
    private val unit = math.pow(10d, -roundDist.toDouble)
    private val l2Family = gated(metric)

    /** Serving-side V8: the loaded lists hold the raw vectors (the
      * IVF_FLAT / SCANN-with-raw-data shape, `flat.cc:258-283`). */
    def hasRawData: Boolean = true

    /** Resident payload bytes (list ids + fp32 vectors + centroids) —
      * the measured side of `IndexStatics.ivfFloatBytes`. */
    def residentBytes: Long = engine.residentBytes

    /** Serving-side V7: raw vectors for the requested ids in request
      * order; absent ids are skipped. */
    def getVectorByIds(ids: Seq[Long]): Seq[(Long, Array[Float])] = engine.vectorsByIds(ids)

    private def dist(q: Array[Float], v: Array[Float]): Double =
      ServeKernels.dist(metric, roundDist, q, v)

    /** Offer a member's raw L2 sum to the sink: past the sink's gate it
      * is dropped unrounded, else rounded and accepted. */
    @inline private def emit(sink: ScanSink, id: Long, s: Double): Unit =
      if (!(s > sink.gate)) sink.accept(id, finishL2(metric, roundDist, s))

    /** THE list-scan kernel of `search`, filtered `search` and
      * `rangeSearch`: score list `p`'s allowed members into `sink`,
      * returning how many were scored. L2 family metrics fold the raw
      * sums of four members in lockstep, each lane in the `i = 0..d−1`
      * order of [[ServeKernels.l2Sum]] (so every sum is bit-identical),
      * and only members under the sink's gate reach `sqrt` and the 4dp
      * round; IP and cosine score one member at a time. */
    private def scan(q: Array[Float], p: Int, allowed: Long => Boolean, sink: ScanSink): Long = {
      val ids = engine.ids(p)
      val vs = engine.vecs(p)
      val m = ids.length
      if (!l2Family) {
        var n = 0L
        var i = 0
        while (i < m) {
          if (allowed == null || allowed(ids(i))) {
            n += 1
            val d = dist(q, vs(i))
            sink.accept(ids(i), d)
          }
          i += 1
        }
        n
      } else {
        var n = 0L
        var l0, l1, l2, l3 = 0
        val sums = new Array[Double](4)
        var i = 0
        while (i < m) {
          // gather the next four allowed members
          var c = 0
          while (c < 4 && i < m) {
            if (allowed == null || allowed(ids(i))) {
              if (c == 0) l0 = i else if (c == 1) l1 = i else if (c == 2) l2 = i else l3 = i
              c += 1
            }
            i += 1
          }
          n += c
          if (c == 4) {
            l2Sum4(q, vs(l0), vs(l1), vs(l2), vs(l3), sums)
            emit(sink, ids(l0), sums(0))
            emit(sink, ids(l1), sums(1))
            emit(sink, ids(l2), sums(2))
            emit(sink, ids(l3), sums(3))
          } else {
            if (c > 0) emit(sink, ids(l0), l2Sum(q, vs(l0)))
            if (c > 1) emit(sink, ids(l1), l2Sum(q, vs(l1)))
            if (c > 2) emit(sink, ids(l2), l2Sum(q, vs(l2)))
          }
        }
        n
      }
    }

    /** Per-query EXACT range search with the lossless ball prune (the
      * batch `rangeSearchPruned` semantics, `ivf.cc` range path): a list
      * is scanned only when its centroid ball can intersect the
      * [rangeFilter, radius) shell — d(q,c) − r ≤ radius + ε and
      * d(q,c) + r ≥ rangeFilter − ε (ε covers the 4dp rounding). L2 only
      * (the bound needs a metric space). `radii` maps cluster_id → max
      * member distance, the build-time metadata `IvfIndex.listRadii`
      * computes. Output sorted (dist, id) — equality-gated vs the batch.
      *
      * `allowed` is the universal bitset contract extended to this arm
      * (every search takes a bitset — `bitsetview.h:21-147`): disallowed
      * ids are skipped at list-scan time, costing nothing; the ball prune
      * is unaffected because it bounds LISTS (centroid geometry), not
      * docs. `lastCandidates` counts allowed ids scored — the
      * filter-scaled cost observable, as on the filtered top-k probe. */
    def rangeSearch(
        q: Array[Float], radius: Double, rangeFilter: Double,
        radii: java.util.HashMap[Long, Double], allowed: Long => Boolean = null): Seq[(Long, Double)] =
      Telemetry.timed("SERVE", "range_ivf") {
        require(metric == Metric.L2, "ball prune needs a metric space (L2)")
        requireDim(q, dim)
        val sink = new ShellSink(radius, rangeFilter, metric, unit)
        val inBall = Array.range(0, engine.centIds.length).filter { p =>
          val dc = dist(q, engine.cents(p))
          val r = radii.getOrDefault(engine.centIds(p), 0d)
          dc - r <= radius + unit && dc + r >= rangeFilter - unit
        }
        lastCandidates = engine.scan(inBall, 0, inBall.length)(scan(q, _, allowed, sink))
        sink.out.sortBy { case (id, d) => (d, id) }.toSeq
      }

    /** Bitset-filtered probe — the universal filter contract extended to
      * the IVF serving arm (`ivf.cc:750-760`): disallowed ids are skipped
      * at scoring (they cost nothing — the probed-list scan just passes
      * them), and a probe whose lists cannot deliver k ALLOWED results
      * expands to the remaining lists, exactly the batch
      * `probeAndPrune(ensureTopkFull)` rule — the reference's
      * `ensure_topk_full` knob, which probes wide under selective filters
      * so the filtered top-k never starves. Bit-identical to the batch
      * `IvfIndex.search` over the filtered index (same probe order, same
      * expansion condition, same (dist, id) contract) — ServeSpec-gated.
      * `lastCandidates` counts ALLOWED ids scored (the filter-scaled
      * cost observable). Without `allowed` the probe never widens. */
    def search(
        q: Array[Float], k: Int, nprobe: Int,
        allowed: Long => Boolean = null): Seq[(Long, Double)] =
      Telemetry.timed("SERVE", if (allowed == null) "search_ivf" else "search_ivf_filtered") {
        requireK(k)
        requireDim(q, dim)
        val order = engine.probeOrder(metric)(dist(q, _))
        val sink = new TopKSink(k, metric, unit)
        var candidates = engine.scan(order, 0, nprobe)(scan(q, _, allowed, sink))
        // ensure_topk_full: probed lists held < k allowed → widen to the
        // remaining lists (the batch expansion adds every unprobed list)
        if (allowed != null && !sink.heap.full)
          candidates += engine.scan(order, nprobe, order.length)(scan(q, _, allowed, sink))
        lastCandidates = candidates
        sink.heap.ranked(metric.ascending)
      }
  }

  /** Load an IVF shard (centroids + per-list vectors) for serving —
    * bounded collect with a loud guard. */
  def loadIvf(
      index: DataFrame, // (id, vec, cluster_id) from IvfIndex.build
      centroids: DataFrame, // (cluster_id, centroid)
      metric: Metric = Metric.L2
  ): LocalIvfSearcher =
    new LocalIvfSearcher(centroidsOf(centroids)(floatVec),
      ivfLists(index, col("vec"))(floatVec), metric)

  // -------------------------------------------------------------------------
  // Quantized resident IVF serving tier — the reference's IVF_SQ8/IVF_PQ
  // memory model (`src/index/ivf/ivf.cc:66-1276`): the serving node holds
  // CODES, not fp32 vectors, in RAM (4× fewer resident bytes for SQ8, up
  // to 32× for PQ), scores probed lists by decode-inline asymmetric
  // distance, and rescores only `reorderK` finalists from a raw tier —
  // the SCANN raw-data rerank contract (`ivf.cc:774-788`).
  // -------------------------------------------------------------------------

  /** Raw-vector tier behind the quantized serving searchers — where the
    * `reorderK` finalists' exact vectors come from. Two shapes, mirroring
    * the reference's two deployments:
    *  - [[ResidentRawTier]]: raw vectors in serving RAM next to the codes
    *    (SCANN `with_raw_data`, `ivf.cc:774-788`) — fastest rerank, full
    *    resident cost.
    *  - [[PagedRawTier]]: raw vectors stay in a page store on disk and
    *    are fetched per search for the ≤ reorderK finalists only (the
    *    SSD/mmap analog, `feature.h:40-46` — DiskANN's
    *    `pq_code_budget_gb` model pages raw data the same way). Resident
    *    bytes are the CODES ONLY; each search pays one bounded fetch.
    * Both keep V7 (`GetVectorByIds`) answering exact raw vectors, so the
    * searcher's HasRawData stays true — the repo's SQ8/PQ are the
    * SCANN-style raw-rerank composition (see `Capabilities.hasRawData`),
    * unlike the reference's codes-only IVF_SQ8 which answers false. */
  sealed trait RawTier {
    /** Exact raw vectors for the requested ids (absent ids skipped). */
    def fetch(ids: Seq[Long]): java.util.HashMap[Long, Array[Float]]
    /** True when the raw vectors are RAM-resident (SCANN shape). */
    def resident: Boolean
  }

  final class ResidentRawTier(
      byId: java.util.HashMap[Long, Array[Float]]
  ) extends RawTier {
    def fetch(ids: Seq[Long]): java.util.HashMap[Long, Array[Float]] = {
      val m = new java.util.HashMap[Long, Array[Float]]()
      ids.foreach { id =>
        val v = byId.get(id)
        if (v != null) m.put(id, v)
      }
      m
    }
    def resident: Boolean = true
    /** Resident float count (observability for the SCALE_RUN bytes line). */
    def residentFloats: Long = {
      var s = 0L
      val it = byId.values().iterator()
      while (it.hasNext) s += it.next().length
      s
    }
  }

  /** Pages finalists from a [[graft.sources.SectorStore]] per search — the
    * SSD fetch analog done the way the reference does it
    * (`diskann.cc:560-660`: per-node sector reads at known offsets, never a
    * file scan). Only the store's page fences are resident; a fetch reads
    * exactly the 4 KiB pages holding requested ids, one positioned read
    * each — no Spark job on the query path, IO proportional to the FETCH
    * COUNT, not the corpus. Safe to share across threads; the `last*`
    * observables are last-writer-wins. */
  final class PagedRawTier(
      store: graft.sources.SectorStore.Reader
  ) extends RawTier {
    /** distinct ids requested by the last call. */
    @volatile var lastRequested: Long = 0L
    /** rows actually returned by the last call (absent ids excluded). */
    @volatile var lastFetched: Long = 0L
    /** 4 KiB pages ("sectors") read by the last call — the IO-request
      * observable; ≤ lastRequested since each id lives in one page. */
    @volatile var lastSectorsRead: Long = 0L
    /** bytes of the pages the last call read. */
    @volatile var lastBytesRead: Long = 0L
    /** rows held by those pages (≈ pages × rows per page). */
    @volatile var lastRowsScanned: Long = 0L

    /** Store-wide totals, for ≪-full-scan assertions. */
    def totalSectors: Long = store.totalSectors
    def totalRows: Long = store.totalRows
    def totalBytes: Long = store.totalBytes

    def fetch(ids: Seq[Long]): java.util.HashMap[Long, Array[Float]] = {
      val f = store.fetch(ids)
      lastRequested = f.requested
      lastSectorsRead = f.pagesRead
      lastBytesRead = f.bytesRead
      lastRowsScanned = f.rowsScanned
      lastFetched = f.vectors.size.toLong
      f.vectors
    }
    def resident: Boolean = false
  }

  /** Build the paged tier for a raw frame: open `storeDir` when it already
    * holds a valid page store (a [[graft.sources.SectorStore.save]]d
    * layout — e.g. `DiskAnnIndex.save`'s raw tier), else write one under a
    * temp dir deleted at JVM exit — the "lay the SSD tier out" step of
    * load, one sort job once, after which every fetch reads 4 KiB pages by
    * offset. */
  private def pagedTierOf(
      raw: DataFrame, // (id, vec)
      storeDir: Option[String]
  ): PagedRawTier = {
    val spark = raw.sparkSession
    storeDir.flatMap(graft.sources.SectorStore.openIfValid(spark, _)) match {
      case Some(r) => new PagedRawTier(r)
      case None =>
        val dir = graft.queries.StreamStage.dir("graft-rawstore-").toString
        graft.sources.SectorStore.save(raw, dir)
        new PagedRawTier(graft.sources.SectorStore.openIfValid(spark, dir).getOrElse(
          throw new IllegalStateException(s"page store just written to $dir failed to open")))
    }
  }

  /** Shared mechanics of the coded IVF serving searchers: the
    * [[IvfLists]] L2 probe order (4dp round, ties by cluster id), a
    * bounded (dist, id) heap over decode-inline approximate distances on
    * the probed lists, then exact L2 rerank of the ≤ reorderK finalists
    * from the raw tier — step-for-step the batch `IvfIndex.searchSq8`/
    * `searchPq` composition, so equality is exact, not recall-gated. */
  sealed abstract class LocalIvfCodedSearcher(
      cents: Array[(Long, Array[Float])], // sorted by cluster_id
      lists: java.util.HashMap[Long, (Array[Long], Array[Array[Byte]])],
      raw: RawTier,
      roundDist: Int,
      searchLabel: String, // telemetry verb of the search path
      dim: Int // vector dimension the codes were trained for
  ) {
    import ServeKernels._

    /** Raw approximate (decode-inline) L2 sum of the query to one code —
      * must reproduce the batch quantized-distance fold bit-for-bit; the
      * scan then gates it, takes the sqrt and rounds at 4dp. `qstate` is
      * the per-query precomputation ([[queryState]]) so per-candidate
      * work is minimal. */
    protected def adcSum(qstate: AnyRef, code: Array[Byte]): Double

    /** Per-query precomputation handed to every [[adcSum]] call (the
      * PQ LUT; SQ8 needs none beyond the query itself). */
    protected def queryState(q: Array[Float]): AnyRef

    @volatile var lastCandidates: Long = 0L
    @volatile var lastRawFetched: Long = 0L

    private[operators] val engine = engineOf(cents, lists)
    private val unit = math.pow(10d, -roundDist.toDouble)

    /** The shard's VECTOR quantizer identity (SQ8 bounds / PQ codebooks) —
      * sharded routers additionally require every shard coded under the
      * same trained model, or per-shard ADC distances are incomparable. */
    private[operators] def quantKey: Seq[Double]

    /** V8: raw data is REACHABLE (rerank + V7 ride the raw tier) — the
      * SCANN-style contract this repo's SQ8/PQ register
      * (`Capabilities.hasRawData`); `rawResident` tells the two tier
      * shapes apart. */
    def hasRawData: Boolean = true
    def rawResident: Boolean = raw.resident

    /** The raw tier behind the rerank — exposed for IO-observable gates. */
    private[graft] def rawTier: RawTier = raw

    /** Resident bytes of the CODED tier (ids + codes + centroids) — the
      * serving-memory observable the SCALE_RUN line reports. Excludes the
      * raw tier (zero when paged; see [[ResidentRawTier.residentFloats]]). */
    def residentCodeBytes: Long = engine.residentBytes

    /** Serving-side V7 (`index_node.h:340-341`): exact raw vectors in
      * request order via the raw tier; absent ids are skipped. */
    def getVectorByIds(ids: Seq[Long]): Seq[(Long, Array[Float])] = inRequestOrder(ids, raw.fetch(ids))

    /** Score the allowed members of the `nprobe` nearest lists into
      * `sink`: the raw ADC sum, the sink's gate, then sqrt and the 4dp
      * round for members under it (see [[ServeKernels.l2Gate]]). Sets
      * `lastCandidates`. */
    private def scan(
        q: Array[Float], nprobe: Int, allowed: Long => Boolean, sink: ScanSink): Unit = {
      requireDim(q, dim)
      val qs = queryState(q)
      val order = engine.probeOrder(Metric.L2)(dist(Metric.L2, roundDist, q, _))
      lastCandidates = engine.scan(order, 0, nprobe) { p =>
        val ids = engine.ids(p)
        val codes = engine.vecs(p)
        var n = 0L
        var i = 0
        while (i < ids.length) {
          if (allowed == null || allowed(ids(i))) {
            n += 1
            val s = adcSum(qs, codes(i))
            if (!(s > sink.gate)) sink.accept(ids(i), sparkRound(math.sqrt(s), roundDist))
          }
          i += 1
        }
        n
      }
    }

    /** V5 on the coded tier — the reference's IVF_SQ8/IVF_PQ range path
      * scans probed lists by CODE distance (`ivf.cc` range over the
      * quantized lists; no raw tier is touched). The serving shell is the
      * [rangeFilter, radius) band of decode-inline distances over the
      * `nprobe` nearest lists — bit-identical to the batch
      * `IvfIndex.rangeSearch` over the reconstructed-code frame (same
      * decode arithmetic, same probe order), ServeSpec-gated. `allowed`
      * skips disallowed ids at scan. Output sorted (dist, id). */
    def rangeSearch(
        q: Array[Float], radius: Double, rangeFilter: Double, nprobe: Int,
        allowed: Long => Boolean = null): Seq[(Long, Double)] =
      Telemetry.timed("SERVE", searchLabel + "_range") {
        // the range path never touches the raw tier — zero the observable so
        // interleaved knn/range calls don't report a stale fetch count
        lastRawFetched = 0L
        val sink = new ShellSink(radius, rangeFilter, Metric.L2, unit)
        scan(q, nprobe, allowed, sink)
        sink.out.sortBy { case (id, d) => (d, id) }.toSeq
      }

    /** Two-phase probed search: approx (coded) top-`reorderK` over the
      * `nprobe` nearest lists, exact rerank of the finalists to top-`k` —
      * bit-identical to the batch `searchSq8`/`searchPq` over the same
      * index (same probe order, same candidate cut, same (dist, id)
      * contract). `allowed` is the universal bitset: disallowed ids are
      * skipped at the coded scan, costing nothing — equality then holds
      * vs the batch search over the pre-filtered index under the SAME
      * quantizer model (the filter must not retrain the quantizer). */
    def search(
        q: Array[Float], k: Int, nprobe: Int, reorderK: Int,
        allowed: Long => Boolean = null): Seq[(Long, Double)] =
      Telemetry.timed("SERVE", searchLabel) {
        requireK(k)
        require(reorderK >= 1, s"reorderK must be >= 1, got $reorderK")
        val sink = new TopKSink(reorderK, Metric.L2, unit)
        scan(q, nprobe, allowed, sink)
        val finalists = sink.heap.drain()._2.toSeq
        val rawm = raw.fetch(finalists)
        lastRawFetched = rawm.size.toLong
        finalists
          .flatMap(id => Option(rawm.get(id)).map(v => (id, dist(Metric.L2, roundDist, q, v))))
          .sortBy { case (id, d) => (d, id) }
          .take(k)
      }
  }

  /** IVF_SQ8 serving: 1-byte-per-dim codes resident (4× fewer bytes than
    * the fp32 [[LocalIvfSearcher]]), table-lookup midpoint reconstruction
    * per evaluation — the faiss SQ midpoint the batch `Quantization`
    * expressions compute, tabulated once per searcher for all 256 codes
    * of every dimension in the same double arithmetic order, so the
    * 4dp-rounded distances are bit-identical. */
  final class LocalIvfSq8Searcher(
      cents: Array[(Long, Array[Float])],
      lists: java.util.HashMap[Long, (Array[Long], Array[Array[Byte]])],
      mn: Array[Double], // global per-dim bounds (the trained quantizer)
      mx: Array[Double],
      raw: RawTier,
      roundDist: Int = 4
  ) extends LocalIvfCodedSearcher(cents, lists, raw, roundDist, "search_ivf_sq8", mn.length) {
    private[operators] def quantKey: Seq[Double] = (mn ++ mx).toSeq
    protected def queryState(q: Array[Float]): AnyRef = q
    // recon(i·256 + c) = mn + (c + 0.5)·(mx − mn)/255 —
    // Quantization.sq8Recon verbatim (same operation order)
    private val recon: Array[Double] = Array.tabulate(mn.length * 256) { t =>
      val i = t >>> 8
      mn(i) + ((t & 0xFF).toDouble + 0.5d) * (mx(i) - mn(i)) / 255.0d
    }
    protected def adcSum(qstate: AnyRef, code: Array[Byte]): Double = {
      val q = qstate.asInstanceOf[Array[Float]]
      var s = 0.0d
      var i = 0
      while (i < q.length) {
        val d = q(i).toDouble - recon((i << 8) | (code(i) & 0xFF))
        s += d * d
        i += 1
      }
      s
    }
  }

  /** IVF_PQ serving: m-byte codes resident (d·4/m× fewer bytes than fp32),
    * per-query subspace LUT computed once, ADC per candidate is m lookups —
    * the batch `ProductQuant.adcTopK` arithmetic (per-subspace double
    * folds, subspace sums left-to-right, sqrt, 4dp round) reproduced
    * bit-for-bit. */
  final class LocalIvfPqSearcher(
      cents: Array[(Long, Array[Float])],
      lists: java.util.HashMap[Long, (Array[Long], Array[Array[Byte]])],
      model: ProductQuant.PQModel,
      raw: RawTier,
      roundDist: Int = 4
  ) extends LocalIvfCodedSearcher(cents, lists, raw, roundDist, "search_ivf_pq",
        model.m * model.dsub) {
    private[operators] def quantKey: Seq[Double] =
      model.codebooks.flatten.flatten.map(_.toDouble).toSeq
    /** LUT: distances of each query subspace to every codeword —
      * `ProductQuant.lutLocal` (the lutExpr arithmetic). */
    protected def queryState(q: Array[Float]): AnyRef =
      ProductQuant.lutLocal(q, model)
    protected def adcSum(qstate: AnyRef, code: Array[Byte]): Double = {
      val lut = qstate.asInstanceOf[Array[Array[Double]]]
      var s = 0
      var acc = 0.0d
      while (s < model.m) {
        acc += lut(s)(code(s) & 0xFF)
        s += 1
      }
      acc
    }
  }

  /** Load an IVF_SQ8 serving shard: codes are computed by the SAME Spark
    * expressions the batch search uses (`Quantization.sq8Code` over the
    * trained global bounds), so serving and batch quantize identically by
    * construction. Pass `stats` (the trained quantizer, one row) in a
    * real deployment so load never retrains — the reference's Train-once
    * contract (`ivf.cc:440-654`). `rawResident=false` (default) keeps
    * ONLY codes in serving RAM and pages finalists from a 4 KiB page
    * store; `true` is the SCANN `with_raw_data` shape. */
  def loadIvfSq8(
      index: DataFrame, // (id, vec, cluster_id) from IvfIndex.build
      centroids: DataFrame, // (cluster_id, centroid)
      stats: Option[DataFrame] = None,
      rawResident: Boolean = false,
      // an existing SectorStore layout for the paged tier (e.g. a saved
      // index's raw dir); absent → one is materialized under tmp at load
      rawStoreDir: Option[String] = None
  ): LocalIvfSq8Searcher = {
    val st = stats.getOrElse(Quantization.sq8Train(index.select(col("id"), col("vec"))))
    val strow = st.select(col("mn"), col("mx")).head()
    val mn = strow.getSeq[Double](0).toArray
    val mx = strow.getSeq[Double](1).toArray
    val lm = ivfLists(index.crossJoin(broadcast(st)),
      Quantization.sq8Code(col("vec"), col("mn"), col("mx")))(codeBytes)
    new LocalIvfSq8Searcher(centroidsOf(centroids)(floatVec), lm, mn, mx,
      rawTierOf(index, rawResident, rawStoreDir))
  }

  /** Load an IVF_PQ serving shard — codes via the batch
    * `ProductQuant.encodeExpr` (identical first-minimum tie-break), the
    * codebook resident as the model object (m·ksub·dsub floats — tiny). */
  def loadIvfPq(
      index: DataFrame, // (id, vec, cluster_id)
      centroids: DataFrame,
      model: ProductQuant.PQModel,
      rawResident: Boolean = false,
      rawStoreDir: Option[String] = None
  ): LocalIvfPqSearcher = {
    require(model.ksub <= 256, s"PQ ksub ${model.ksub} exceeds 1-byte codes")
    new LocalIvfPqSearcher(centroidsOf(centroids)(floatVec),
      ivfLists(index, ProductQuant.encodeExpr(col("vec"), model))(codeBytes), model,
      rawTierOf(index, rawResident, rawStoreDir))
  }

  private def rawTierOf(
      index: DataFrame,
      rawResident: Boolean,
      rawStoreDir: Option[String] = None): RawTier = {
    val raw = index.select(col("id"), col("vec"))
    if (!rawResident) pagedTierOf(raw, rawStoreDir)
    else new ResidentRawTier(vectorMap(raw)(floatVec))
  }

  /** The body of the two binary serving arms over one [[IvfLists]] of
    * packed signatures: the popcount list scan (Hamming = integer popcount
    * of xor, exact; Jaccard = 1 − |and|/|or| under the 4dp contract, 0.0
    * when |or| = 0) feeding the top-k or shell sink, V7 and the resident
    * bytes. A query's word count is checked once against the shard's (a
    * common-prefix distance would return plausible but wrong neighbors),
    * and a shard of mixed word counts is rejected when it is built. */
  private[operators] sealed abstract class BinaryArm(
      private[operators] val engine: IvfLists[Array[Long], Array[Long]],
      metric: Metric,
      roundDist: Int
  ) {
    import ServeKernels._

    require(metric == Metric.Hamming || metric == Metric.Jaccard,
      s"binary serving supports HAMMING/JACCARD, got ${metric.name}")
    private val words = engine.width("binary shard signatures of mixed word count")
    private val unit = math.pow(10d, -roundDist.toDouble)

    @volatile var lastCandidates: Long = 0L

    /** The packed signatures are the index's raw data — V8 true. */
    def hasRawData: Boolean = true

    /** Resident payload bytes (ids + signature words + packed centroids)
      * — the measured side of `IndexStatics.binaryBytes`/`binaryIvfBytes`. */
    def residentBytes: Long = engine.residentBytes

    /** Serving-side V7: the packed signatures, in request order; absent
      * ids are skipped. */
    def getVectorByIds(want: Seq[Long]): Seq[(Long, Array[Long])] = engine.vectorsByIds(want)

    /** List positions in scan order for `q`. */
    protected def order(q: Array[Long]): Array[Int]

    /** THE popcount scan of both arms: score the allowed members of the
      * first `nprobe` lists of [[order]] into `sink`. Sets
      * `lastCandidates`. */
    private def scan(q: Array[Long], nprobe: Int, allowed: Long => Boolean, sink: ScanSink): Unit = {
      require(q.length == words,
        s"packed signature length mismatch: query ${q.length} words vs shard $words")
      lastCandidates = engine.scan(order(q), 0, nprobe) { p =>
        val ids = engine.ids(p)
        val vs = engine.vecs(p)
        var n = 0L
        var i = 0
        while (i < ids.length) {
          if (allowed == null || allowed(ids(i))) {
            n += 1
            sink.accept(ids(i), binaryDist(metric, roundDist, q, vs(i)))
          }
          i += 1
        }
        n
      }
    }

    /** Exact top-k over the first `nprobe` lists, (dist, id) ordered;
      * `allowed` skips ids at scan. */
    protected def knn(q: Array[Long], k: Int, nprobe: Int, allowed: Long => Boolean): Seq[(Long, Double)] = {
      requireK(k)
      val sink = new TopKSink(k, metric, unit)
      scan(q, nprobe, allowed, sink)
      sink.heap.ranked(ascending = true)
    }

    /** The [rangeFilter, radius) shell over the first `nprobe` lists,
      * (dist, id) sorted. */
    protected def shell(
        q: Array[Long], radius: Double, rangeFilter: Double, nprobe: Int,
        allowed: Long => Boolean): Seq[(Long, Double)] = {
      val sink = new ShellSink(radius, rangeFilter, metric, unit)
      scan(q, nprobe, allowed, sink)
      sink.out.sortBy { case (id, d) => (d, id) }.toSeq
    }
  }

  /** Binary (bin1) serving searcher — the reference serves BIN_FLAT
    * through the same Search verb as floats (`brute_force.cc:212-236`;
    * BIN_FLAT registration `flat.cc:398-413`), over sign-bit-packed
    * vectors: 32 dims per resident long (the `signBits` packer's layout —
    * 16× fewer bytes than fp32 for the same dim count). Hamming and
    * Jaccard reproduce the batch `VectorFunctions.hamming/jaccardDist`
    * arithmetic exactly (integer popcounts; one double divide for
    * Jaccard), so the ServeSpec gates are set-equality vs
    * `BruteForce.knn`, not recall. The shard is the [[IvfLists]] one-list
    * case with no probe. The packed signature IS this index's raw data
    * (BIN_FLAT answers HasRawData true) — V7 returns the packed words. */
  final class LocalBinarySearcher(
      ids: Array[Long],
      words: Array[Array[Long]],
      metric: Metric,
      roundDist: Int = 4
  ) extends BinaryArm(
      new IvfLists(Array.emptyLongArray, Array.empty[Array[Long]], Array(ids), Array(words)),
      metric, roundDist) {

    private val oneList = Array(0)
    protected def order(q: Array[Long]): Array[Int] = oneList

    /** Exact top-k over the packed shard; `allowed` is the universal
      * bitset (disallowed ids skipped at scan — thread-safe/read-only
      * when used behind a sharded router). */
    def search(
        q: Array[Long], k: Int,
        allowed: Long => Boolean = null): Seq[(Long, Double)] =
      Telemetry.timed("SERVE", "search_binary")(knn(q, k, 1, allowed))

    /** V6 over the packed shard — a ranked stream of depth `n`, paged.
      * The reference serves the iterator verb uniformly across index
      * kinds (`index_node.h:148-153`; its binary brute-force iterator is
      * `brute_force.cc:750-876`, a precomputed-distance stream over the
      * same metric arithmetic). The scan is exact, so pages equal the
      * batch `AnnIteratorOp.open` pages under the shared (dist, id)
      * contract. */
    def iterator(
        q: Array[Long], n: Int,
        allowed: Long => Boolean = null): ServingIterator =
      new ServingIterator(search(q, n, allowed))

    /** V5 over the packed shard: the [rangeFilter, radius) shell of the
      * batch `BruteForce.rangeSearch` (ascending metrics), (dist, id)
      * sorted. */
    def rangeSearch(
        q: Array[Long], radius: Double, rangeFilter: Double,
        allowed: Long => Boolean = null): Seq[(Long, Double)] =
      Telemetry.timed("SERVE", "range_binary")(shell(q, radius, rangeFilter, 1, allowed))
  }

  /** Binary IVF serving — BIN_IVF through the probed-scan verb
    * (`ivf.cc` binary arms; BIN_FLAT/BIN_IVF share the Search contract,
    * `flat.cc:398-413`): packed-long centroids rank by the same binary
    * metric, only the `nprobe` nearest lists are scanned. Hamming is
    * exact integers (no rounding, matching the batch's unrounded double
    * cast); Jaccard rounds at 4dp like every float-valued metric. Probe
    * ties break by cluster id, scan ties by doc id — the batch
    * `IvfIndex.search(.., Metric.Hamming)` contract, equality-gated. */
  final class LocalBinaryIvfSearcher(
      cents: Array[(Long, Array[Long])], // sorted by cluster_id
      lists: java.util.HashMap[Long, (Array[Long], Array[Array[Long]])],
      metric: Metric,
      roundDist: Int = 4
  ) extends BinaryArm(engineOf(cents, lists), metric, roundDist) {

    protected def order(q: Array[Long]): Array[Int] =
      engine.probeOrder(metric)(binaryDist(metric, roundDist, q, _))

    def search(
        q: Array[Long], k: Int, nprobe: Int,
        allowed: Long => Boolean = null): Seq[(Long, Double)] =
      Telemetry.timed("SERVE", "search_binary_ivf")(knn(q, k, nprobe, allowed))

    /** V5 over the probed lists — the batch `IvfIndex.rangeSearch`
      * shell under a binary metric. */
    def rangeSearch(
        q: Array[Long], radius: Double, rangeFilter: Double, nprobe: Int,
        allowed: Long => Boolean = null): Seq[(Long, Double)] =
      Telemetry.timed("SERVE", "range_binary_ivf")(shell(q, radius, rangeFilter, nprobe, allowed))
  }

  /** Load a binary IVF shard (packed-long centroids + per-list packed
    * signatures) for serving — bounded collect with a loud guard. */
  def loadBinaryIvf(
      index: DataFrame, // (id, vec ARRAY<BIGINT>, cluster_id)
      centroids: DataFrame, // (cluster_id, centroid ARRAY<BIGINT>)
      metric: Metric = Metric.Hamming
  ): LocalBinaryIvfSearcher =
    new LocalBinaryIvfSearcher(centroidsOf(centroids)(longVec),
      ivfLists(index, col("vec"), MaxShardCompactRows)(longVec), metric)

  /** Load a packed-binary shard for serving — bounded collect with a
    * loud guard (32 bin1 dims per resident long — signBits layout). */
  def loadBinary(
      base: DataFrame, // (id, vec ARRAY<BIGINT> — signBits output)
      metric: Metric = Metric.Hamming
  ): LocalBinarySearcher = {
    val idsB = Array.newBuilder[Long]
    val wsB = Array.newBuilder[Array[Long]]
    streamRows(base.select(col("id").cast("long"), col("vec")).orderBy(col("id")),
        MaxShardCompactRows) { r =>
      idsB += r.getLong(0)
      wsB += longVec(r)
    }
    new LocalBinarySearcher(idsB.result(), wsB.result(), metric)
  }

  /** The flat resident tiers of a DiskANN shard, built once and shared by
    * every [[LocalDiskAnnSearcher.withSearchListSize]] handle. SLOTS are
    * the coded ids ascending, so slot order IS id order and (key, slot)
    * comparisons break ties exactly as (key, id) did; the codes are one
    * slot-major `byte[n·m]` block and the adjacency slot-indexed. Every id
    * the graph or the entries name must have a code, and every code `m`
    * bytes below `ksub` (`IllegalArgumentException` otherwise). */
  private[operators] final class DiskAnnTiers(
      graph: java.util.HashMap[Long, Array[Long]],
      codeMap: java.util.HashMap[Long, Array[Byte]],
      entryIds: Array[Long],
      val model: ProductQuant.PQModel) {
    val ids: Array[Long] = {
      val a = new Array[Long](codeMap.size)
      var i = 0
      val it = codeMap.keySet().iterator()
      while (it.hasNext) { a(i) = it.next(); i += 1 }
      java.util.Arrays.sort(a)
      a
    }
    def slotOf(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
    private def requireSlot(id: Long, what: => String): Int = {
      val s = slotOf(id)
      require(s >= 0, s"$what $id has no PQ code in this shard")
      s
    }
    val codes: Array[Byte] = {
      val m = model.m
      val out = new Array[Byte](ids.length * m)
      var s = 0
      while (s < ids.length) {
        val c = codeMap.get(ids(s))
        require(c.length == m, s"PQ code of id ${ids(s)} has ${c.length} bytes, expected $m")
        var j = 0
        while (j < m) {
          require((c(j) & 0xFF) < model.ksub,
            s"PQ code of id ${ids(s)} names codeword ${c(j) & 0xFF} of ${model.ksub}")
          out(s * m + j) = c(j)
          j += 1
        }
        s += 1
      }
      out
    }
    val adj: Array[Array[Int]] = {
      graph.keySet().forEach(src => requireSlot(src, "graph node"))
      ids.map { id =>
        val dst = graph.get(id)
        if (dst == null) Array.emptyIntArray else dst.map(requireSlot(_, s"graph edge $id →"))
      }
    }
    val entries: Array[Int] = entryIds.map(requireSlot(_, "entry point"))

    /** Resident bytes under the `pq_code_budget_gb` model: entry ids, an
      * (id, code) per node and an (src, dst list) per adjacency row —
      * `IndexStatics.diskannRamBytes`. */
    val residentBytes: Long = {
      var b = entryIds.length.toLong * 8L + ids.length.toLong * (8L + model.m)
      graph.values().forEach(dst => b += 8L + dst.length.toLong * 8L)
      b
    }
  }

  /** Per-thread scratch of one DiskANN searcher, reused across queries. */
  private final class DiskAnnScratch(n: Int, lutSize: Int, l: Int) {
    /** Slots ADC-scored (or seeded) in the query — the rescoring set. */
    val visited = new ServeKernels.WalkScratch(n, 0)
    /** Neighbors already taken in the current hop. */
    val hop = new ServeKernels.WalkScratch(n, 0)
    /** Frontier members ([[LocalDiskAnnSearcher.search]]) or expanded
      * nodes ([[LocalDiskAnnSearcher.searchBeam]]). */
    val mark = new ServeKernels.WalkScratch(n, 0)
    /** Visited slots in visit order, `nVisited` of them. */
    val order = new Array[Int](n)
    var nVisited = 0
    /** Rescoring slots and their raw vectors. */
    val want = new Array[Int](n)
    val vecs = new Array[Array[Float]](n)
    /** The query's ADC table: `lut(s·ksub + c)`. */
    val lut = new Array[Double](lutSize)
    /** Top-L of the fixed-hop frontier. */
    val frontier = new ServeKernels.BoundedHeap(l)
    /** The beam's candidate list and its merge buffer, (ADC, slot) sorted. */
    var candD = new Array[Double](l)
    var candS = new Array[Int](l)
    var nextD = new Array[Double](l)
    var nextS = new Array[Int](l)
    /** The beam hop's freshly scored neighbors, best first. */
    val fresh = new ServeKernels.MinQueue
    /** Warm-cache hits and paged rows of the last [[LocalDiskAnnSearcher]] fetch. */
    var hits = 0L
    var paged = 0L

    def visit(slot: Int): Boolean =
      visited.visit(slot) && { order(nVisited) = slot; nVisited += 1; true }
  }

  /** DiskANN serving arm — the reference's deployment model
    * (`src/index/diskann/diskann.cc:560-660`): PQ codes and the Vamana
    * graph are RAM-resident (the `pq_code_budget_gb` tier) and drive the
    * beam; full-precision vectors live on SSD and are read only for the
    * visited set's exact rescoring. The Spark rendering keeps the split:
    * codes + adjacency + entries resident ([[DiskAnnTiers]]), raw vectors
    * paged per search from a 4 KiB page store ([[PagedRawTier]] — the SSD
    * fetch analog; `lastRawFetched` is the per-query IO-request
    * observable).
    *
    * One kernel serves [[search]], [[searchBeam]] and [[rangeSearch]]:
    * the same slot tiers, one flat `double[m·ksub]` ADC table per query
    * (`pq_dist_lookup`, filled in `ProductQuant.lutLocal`'s operation
    * order, folded `s = 0..m−1`, so every ADC is bit-identical to the
    * batch one), per-thread visited stamps, and exact rescoring through a
    * bounded (dist, id) heap behind the raw-sum gate
    * ([[ServeKernels.l2Gate]]; no gate without rounding, where a raw-sqrt
    * tie at the bound could drop a lower id). The verbs differ only in the
    * hop policy and in when rescoring happens.
    *
    * [[search]] replicates the batch [[DiskAnn.search]] step-for-step —
    * seed = ADC top-L of the entries, each hop expands EVERY frontier
    * node (beamwidth folded into the hop, `diskann_config.h:73-77`),
    * pools frontier ∪ newly-scored, keeps top-L, and the answer is the
    * exact-distance top-k over the FULL visited set — so with the same
    * index and codebook the result is bit-identical (ServeSpec-gated).
    * Its `lastNdis` counts every entry and, per hop, every DISTINCT
    * neighbor of the frontier, already-visited ones included (the batch
    * hop re-scores them; no ADC is memoized across hops). `allowed`
    * applies at the rescoring fetch, matching the batch `filter`
    * semantics (ADC steering is unfiltered on both sides). */
  final class LocalDiskAnnSearcher private (
      tiers: DiskAnnTiers,
      raw: RawTier,
      searchListSize: Int,
      beamIters: Int,
      // the index's own rounding contract (DiskAnnIndex.roundDigits):
      // None = raw doubles, matching a batch index built without rounding
      roundDist: Option[Int]
  ) {
    def this(
        adj: java.util.HashMap[Long, Array[Long]],
        codes: java.util.HashMap[Long, Array[Byte]],
        entries: Array[Long],
        model: ProductQuant.PQModel,
        raw: RawTier,
        searchListSize: Int,
        beamIters: Int,
        roundDist: Option[Int] = Some(4)) =
      this(new DiskAnnTiers(adj, codes, entries, model), raw, searchListSize, beamIters, roundDist)

    import ServeKernels._
    import tiers.{adj, codes, ids}

    require(searchListSize >= 1, s"search_list_size must be >= 1, got $searchListSize")

    private val m = tiers.model.m
    private val ksub = tiers.model.ksub
    private val dsub = tiers.model.dsub
    private val rd: Int = roundDist.getOrElse(-1)
    private val unit = math.pow(10d, -rd.toDouble)

    @volatile var lastNdis: Long = 0L
    @volatile var lastRawFetched: Long = 0L
    @volatile var lastVisited: Long = 0L
    /** rescoring hits served from the warm-node cache by the last search. */
    @volatile var lastCacheHits: Long = 0L
    /** nodes expanded (sectors paid + exact-scored) by the last
      * [[searchBeam]] — its IO-proportionality observable. */
    @volatile var lastExpanded: Long = 0L
    /** hops the last [[searchBeam]] walk took to converge. */
    @volatile var lastHops: Long = 0L

    private val scratch = ThreadLocal.withInitial[DiskAnnScratch](
      () => new DiskAnnScratch(ids.length, m * ksub, searchListSize))

    // WARM-NODE CACHE (`diskann.cc:714-726`, `search_cache_budget_gb` +
    // `GenerateCacheList`: the reference BFS's from the medoid and pins the
    // first `num_nodes_to_cache` levels' raw data in RAM, because entry-
    // adjacent nodes recur in EVERY query's visited set). Same model here:
    // a bounded entry-BFS set of exact raw vectors, slot-indexed (null =
    // not cached), consulted before the paged fetch. Values are the raw
    // tier's own vectors, so answers are bit-identical cache on/off
    // (ServeSpec-gated); only the IO observables move. volatile for safe
    // publication to router pool threads.
    @volatile private var warmCache: Array[Array[Float]] = null

    /** BFS from the entry points over the resident graph until `budget`
      * nodes, fetch their raw vectors ONCE, keep them resident. Level
      * order with sorted adjacency makes the cached set deterministic. */
    def enableWarmCache(budget: Int): this.type = {
      val picked = scala.collection.mutable.ArrayBuffer.empty[Int]
      val in = new Array[Boolean](ids.length)
      def pick(s: Int): Boolean =
        picked.length < budget && !in(s) && { in(s) = true; picked += s; true }
      var frontier = tiers.entries.distinct
      frontier.foreach(pick)
      while (frontier.nonEmpty && picked.length < budget) {
        val next = scala.collection.mutable.ArrayBuffer.empty[Int]
        var f = 0
        while (f < frontier.length && picked.length < budget) {
          adj(frontier(f)).foreach(s => if (pick(s)) next += s)
          f += 1
        }
        frontier = next.toArray
      }
      val got = raw.fetch(picked.map(ids(_)).toSeq)
      val cache = new Array[Array[Float]](ids.length)
      picked.foreach(s => cache(s) = got.get(ids(s)))
      warmCache = cache
      this
    }

    /** Nodes resident in the warm cache (0 when disabled). */
    def warmCachedNodes: Long =
      if (warmCache == null) 0L else warmCache.count(_ != null).toLong

    /** Resident bytes the warm cache adds on top of [[residentBytes]]
      * (ids + fp32 vectors) — the `search_cache_budget_gb` spend. */
    def residentCacheBytes: Long =
      if (warmCache == null) 0L
      else warmCache.iterator.filter(_ != null).map(8L + _.length.toLong * 4L).sum

    /** DiskANN retains raw data (on "SSD") — V8 true, V7 pages it. */
    def hasRawData: Boolean = true
    def rawResident: Boolean = raw.resident

    /** The raw tier behind the rescoring — exposed for IO-observable gates. */
    private[graft] def rawTier: RawTier = raw

    /** A searcher over the SAME resident tiers with a different
      * search-list size — the reference tunes L per query-time target
      * without reloading (`benchmark_float_qps.cpp:365-414` sweeps the
      * knob on one loaded index); shares codes/graph/raw AND the warm
      * cache (the cached set depends only on the graph + entries, not on
      * L, so the handle inherits it — a tuned deployment keeps the
      * `search_cache_budget_gb` latency win without re-running the BFS). */
    def withSearchListSize(l: Int): LocalDiskAnnSearcher = {
      val s = new LocalDiskAnnSearcher(tiers, raw, l, beamIters, roundDist)
      s.warmCache = warmCache
      s
    }

    /** Resident bytes of the RAM tier: codes + adjacency + entries (the
      * `pq_code_budget_gb` model — raw vectors are NOT in this number). */
    def residentBytes: Long = tiers.residentBytes

    /** Serving-side V7: warm-cache hits first, one paged fetch for the
      * rest; absent ids are skipped. Sets the IO observables. */
    def getVectorByIds(ids: Seq[Long]): Seq[(Long, Array[Float])] = {
      val cache = warmCache
      val m = new java.util.HashMap[Long, Array[Float]]()
      val misses = scala.collection.mutable.ArrayBuffer.empty[Long]
      ids.foreach { id =>
        val s = tiers.slotOf(id)
        val v = if (cache == null || s < 0) null else cache(s)
        if (v != null) m.put(id, v) else misses += id
      }
      lastCacheHits = m.size.toLong
      val paged = raw.fetch(misses.toSeq)
      lastRawFetched = paged.size.toLong
      m.putAll(paged)
      inRequestOrder(ids, m)
    }

    private def checkQuery(q: Array[Float], k: Int): Unit = {
      requireK(k)
      requireDim(q, m * dsub)
      require(searchListSize >= k, s"search_list_size $searchListSize must be >= k $k")
    }

    /** Start a query on this thread's scratch: nothing visited, the ADC
      * table filled — `ProductQuant.lutLocal` verbatim, flattened. */
    private def start(q: Array[Float]): DiskAnnScratch = {
      val sc = scratch.get()
      sc.visited.reset()
      sc.nVisited = 0
      val t = sc.lut
      val books = tiers.model.codebooks
      var s = 0
      while (s < m) {
        var c = 0
        while (c < ksub) {
          val cw = books(s)(c)
          var acc = 0.0d
          var j = 0
          while (j < dsub) {
            val d = q(s * dsub + j).toDouble - cw(j).toDouble
            acc += d * d
            j += 1
          }
          t(s * ksub + c) = acc
          c += 1
        }
        s += 1
      }
      sc
    }

    /** Raw ADC sum of a slot's code: table lookups folded `s = 0..m−1`. */
    private def adcSum(t: Array[Double], slot: Int): Double = {
      val base = slot * m
      var acc = 0.0d
      var s = 0
      while (s < m) {
        acc += t(s * ksub + (codes(base + s) & 0xFF))
        s += 1
      }
      acc
    }

    /** A raw L2 sum under the index's rounding contract. */
    private def finish(s: Double): Double =
      if (rd >= 0) sparkRound(math.sqrt(s), rd) else math.sqrt(s)

    /** The raw-sum gate of a full heap's worst key; none unrounded. */
    private def gateOf(heap: BoundedHeap): Double =
      if (rd >= 0 && heap.full) l2Gate(heap.worstKey, unit, Metric.L2) else Double.PositiveInfinity

    /** Offer a raw sum to `heap` past `gate`; the heap's new gate. */
    private def offer(heap: BoundedHeap, s: Double, slot: Int, gate: Double): Double =
      if (!(s > gate) && heap.offer(finish(s), slot)) gateOf(heap) else gate

    /** Raw vectors of `want(0 until n)` into `sc.vecs` (null where the raw
      * tier lacks the id): warm-cache hits first, then one paged fetch for
      * the misses. Sets `sc.hits` and `sc.paged`. */
    private def fetch(sc: DiskAnnScratch, want: Array[Int], n: Int): Unit = {
      val cache = warmCache
      val vecs = sc.vecs
      val misses = new Array[Long](n)
      var nm = 0
      var i = 0
      while (i < n) {
        vecs(i) = if (cache == null) null else cache(want(i))
        if (vecs(i) == null) { misses(nm) = ids(want(i)); nm += 1 }
        i += 1
      }
      val got = raw.fetch(scala.collection.immutable.ArraySeq.unsafeWrapArray(misses).take(nm))
      sc.hits = (n - nm).toLong
      sc.paged = got.size.toLong
      if (nm > 0) {
        i = 0
        while (i < n) {
          if (vecs(i) == null) vecs(i) = got.get(ids(want(i)))
          i += 1
        }
      }
    }

    /** Exact top-k of the fetched `sc.vecs(0 until n)` (slots `want`),
      * four vectors per fold, each sum gated before its sqrt and round. */
    private def rescore(
        q: Array[Float], sc: DiskAnnScratch, want: Array[Int], n: Int, heap: BoundedHeap): Unit = {
      val vecs = sc.vecs
      val lane = new Array[Int](4)
      val sums = new Array[Double](4)
      var gate = Double.PositiveInfinity
      var l = 0
      var i = 0
      while (i < n) {
        if (vecs(i) != null) {
          lane(l) = i
          l += 1
          if (l == 4) {
            l2Sum4(q, vecs(lane(0)), vecs(lane(1)), vecs(lane(2)), vecs(lane(3)), sums)
            var j = 0
            while (j < 4) { gate = offer(heap, sums(j), want(lane(j)), gate); j += 1 }
            l = 0
          }
        }
        i += 1
      }
      var j = 0
      while (j < l) { gate = offer(heap, l2Sum(q, vecs(lane(j))), want(lane(j)), gate); j += 1 }
      java.util.Arrays.fill(vecs.asInstanceOf[Array[AnyRef]], 0, n, null)
    }

    /** Drain a slot-keyed heap as ranked `(id, distance)` rows. */
    private def ranked(heap: BoundedHeap): Seq[(Long, Double)] = {
      val (ks, ss) = heap.drain()
      Array.tabulate(ks.length)(j => (ids(ss(j).toInt), ks(j))).toSeq
    }

    def search(
        q: Array[Float], k: Int,
        allowed: Long => Boolean = null): Seq[(Long, Double)] =
      Telemetry.timed("SERVE", "search_diskann") {
        checkQuery(q, k)
        val sc = start(q)
        val t = sc.lut
        val front = sc.frontier
        front.clear()
        var ndis = 0L
        var gate = Double.PositiveInfinity
        tiers.entries.foreach { e =>
          sc.visit(e)
          ndis += 1
          gate = offer(front, adcSum(t, e), e, gate)
        }
        var fs = front.drain()
        var hop = 0
        while (hop < beamIters) {
          // pool = frontier ∪ its distinct neighbors (each ADC-scored and
          // counted, members included), then top-L by (ADC, id)
          sc.hop.reset()
          sc.mark.reset()
          gate = Double.PositiveInfinity
          val (fk, fslots) = fs
          var i = 0
          while (i < fslots.length) {
            val f = fslots(i).toInt
            if (sc.mark.visit(f) && front.offer(fk(i), f)) gate = gateOf(front)
            i += 1
          }
          i = 0
          while (i < fslots.length) {
            val ns = adj(fslots(i).toInt)
            var j = 0
            while (j < ns.length) {
              val nb = ns(j)
              if (sc.hop.visit(nb)) {
                sc.visit(nb)
                ndis += 1
                val s = adcSum(t, nb)
                if (!sc.mark.seen(nb)) gate = offer(front, s, nb, gate)
              }
              j += 1
            }
            i += 1
          }
          fs = front.drain()
          hop += 1
        }
        lastNdis = ndis
        lastVisited = sc.nVisited.toLong
        // the SSD fetch: exact rescoring of the full visited set (warm-
        // cache hits resident, misses one bounded sector-store fetch)
        val want = sc.want
        var n = 0
        var i = 0
        while (i < sc.nVisited) {
          val s = sc.order(i)
          if (allowed == null || allowed(ids(s))) { want(n) = s; n += 1 }
          i += 1
        }
        fetch(sc, want, n)
        lastCacheHits = sc.hits
        lastRawFetched = sc.paged
        val heap = new BoundedHeap(k)
        rescore(q, sc, want, n, heap)
        ranked(heap)
      }

    /** Convergent beam search with MID-WALK exact rescoring — the loop
      * the reference's SSD tier actually runs (`diskann.cc:560-660`
      * `cached_beam_search`): the L-sized candidate list is ADC-ranked;
      * each hop expands only the `beamWidth` BEST UNEXPANDED candidates,
      * reads their 4 KiB pages in ONE fetch (the reference's beamwidth
      * IOs per hop), keeps their EXACT distances
      * (the reference's `full_retset`), and ADC-scores their unseen
      * neighbors into the candidate list; the walk stops when no
      * unexpanded candidate remains in the list. The answer is the exact
      * top-k over the EXPANDED set — per-query IO is proportional to
      * hops × beamWidth (≈ L), NOT the full ADC-visited set the fixed-hop
      * [[search]] rescores, and every answered distance was paid for with
      * a page read. Deterministic: (dist, id) order everywhere, both
      * distance kinds under the index rounding contract; `allowed`
      * applies to answers only (the walk routes through filtered nodes,
      * the batch `filter` semantics). */
    def searchBeam(
        q: Array[Float], k: Int, beamWidth: Int = 8,
        allowed: Long => Boolean = null): Seq[(Long, Double)] =
      Telemetry.timed("SERVE", "search_diskann_beam") {
        checkQuery(q, k)
        val heap = new BoundedHeap(k)
        beam(q, beamWidth, allowed, heap)
        ranked(heap)
      }

    /** The convergent walk: every expanded node's exact distance goes to
      * `heap` (allowed ids only). Sets the walk's observables. */
    private def beam(
        q: Array[Float], beamWidth: Int, allowed: Long => Boolean, heap: BoundedHeap): Unit = {
      require(beamWidth >= 1, s"beamWidth $beamWidth must be >= 1")
      val sc = start(q)
      val t = sc.lut
      val expanded = sc.mark
      expanded.reset()
      val L = searchListSize
      var ndis = 0L
      // the list: (ADC, slot) sorted, truncated to L; the seed is the
      // distinct entries' top-L
      val seed = sc.frontier
      seed.clear()
      tiers.entries.foreach { e =>
        if (sc.visit(e)) { ndis += 1; seed.offer(finish(adcSum(t, e)), e) }
      }
      val (sk, ss) = seed.drain()
      var cd = sc.candD
      var cs = sc.candS
      var cn = sk.length
      var i = 0
      while (i < cn) { cd(i) = sk(i); cs(i) = ss(i).toInt; i += 1 }
      val toExpand = new Array[Int](beamWidth)
      val fresh = sc.fresh
      var gate = Double.PositiveInfinity
      var hops, fetched, cacheHits, nExpanded = 0L
      var converged = false
      while (!converged) {
        // best unexpanded candidates in the list, up to beamWidth
        var ne = 0
        i = 0
        while (i < cn && ne < beamWidth) {
          if (!expanded.seen(cs(i))) { toExpand(ne) = cs(i); ne += 1 }
          i += 1
        }
        if (ne == 0) converged = true
        else {
          hops += 1
          // the SSD hop: the expanded nodes' raw vectors, one fetch of
          // their 4 KiB pages (warm-cache hits skip the read)
          fetch(sc, toExpand, ne)
          fetched += sc.paged
          cacheHits += sc.hits
          fresh.clear()
          i = 0
          while (i < ne) {
            val e = toExpand(i)
            expanded.visit(e)
            nExpanded += 1
            val v = sc.vecs(i)
            sc.vecs(i) = null
            if (v != null && (allowed == null || allowed(ids(e)))) gate = offer(heap, l2Sum(q, v), e, gate)
            val ns = adj(e)
            var j = 0
            while (j < ns.length) {
              val nb = ns(j)
              if (sc.visit(nb)) { ndis += 1; fresh.push(finish(adcSum(t, nb)), nb) }
              j += 1
            }
            i += 1
          }
          // one linear merge of the sorted fresh scores into the list,
          // truncated at L (the list's own comparison, `<` then ids)
          if (fresh.nonEmpty) {
            val nd = sc.nextD
            val ns = sc.nextS
            var a = 0
            var o = 0
            while (o < L && (a < cn || fresh.nonEmpty)) {
              val takeA = !fresh.nonEmpty || (a < cn && {
                val d1 = cd(a); val d2 = fresh.topKey
                d1 < d2 || (d1 == d2 && cs(a) < fresh.topSlot)
              })
              if (takeA) { nd(o) = cd(a); ns(o) = cs(a); a += 1 }
              else { nd(o) = fresh.topKey; ns(o) = fresh.topSlot; fresh.pop() }
              o += 1
            }
            sc.nextD = cd; sc.nextS = cs
            cd = nd; cs = ns; cn = o
            sc.candD = cd; sc.candS = cs
          }
        }
      }
      lastNdis = ndis
      lastVisited = sc.nVisited.toLong
      lastExpanded = nExpanded
      lastHops = hops
      lastRawFetched = fetched
      lastCacheHits = cacheHits
    }

    /** V5 on the SSD tier — the reference ships DiskANN range search
      * through the generic iterator-backed fallback
      * (`index_node.h:170-230`: drain an AnnIterator, keep hits inside
      * the bound, stop when the stream leaves the shell), because
      * `diskann.cc` defines no native range loop. Same contract here
      * with the convergent beam as the stream: the walk runs to
      * convergence at `searchListSize` (the width knob the protocol
      * tunes), every expanded node's EXACT distance is already paid for
      * with its sector read, and the answer is the [rangeFilter, radius)
      * shell of the expanded pool's exact top-L — (dist, id) sorted,
      * L2-ascending semantics like the graph arm. `allowed` applies to
      * answers only (walk routes through filtered nodes). L ≥ n on a
      * connected graph recovers the exact shell — ServeSpec-gated against
      * the batch brute-force range. */
    def rangeSearch(
        q: Array[Float], radius: Double, rangeFilter: Double,
        beamWidth: Int = 8, allowed: Long => Boolean = null): Seq[(Long, Double)] =
      Telemetry.timed("SERVE", "range_diskann") {
        requireDim(q, m * dsub)
        val heap = new BoundedHeap(searchListSize)
        beam(q, beamWidth, allowed, heap)
        ranked(heap).filter { case (_, d) => d >= rangeFilter && d < radius }
      }
  }

  /** Load a DiskANN serving shard from a built [[DiskAnnIndex]]: the RAM
    * tier (codes via the index's own `ProductQuant.encodeExpr` projection,
    * adjacency, entries) collects bounded; the raw tier stays on disk in a
    * 4 KiB page store and pages per search. */
  def loadDiskAnn(
      idx: DiskAnnIndex,
      // page store for the SSD tier: an explicit dir, else the saved
      // index's own raw dir (DiskAnnIndex.save writes the pages there),
      // else one is materialized under tmp at load
      rawStoreDir: Option[String] = None,
      // warm-node cache budget (`search_cache_budget_gb` analog,
      // `diskann.cc:714-726`): entry-BFS nodes whose raw vectors stay
      // resident; 0 disables
      cacheNodes: Int = 0
  ): LocalDiskAnnSearcher = {
    require(idx.model.ksub <= 256, s"PQ ksub ${idx.model.ksub} exceeds 1-byte codes")
    val s = new LocalDiskAnnSearcher(adjacency(idx.graph),
      vectorMap(idx.coded.select(col("id"), col("codes")))(codeBytes),
      entryIds(idx.entries), idx.model,
      pagedTierOf(idx.raw.select(col("id"), col("vec")),
        rawStoreDir.orElse(idx.rawDir)),
      idx.searchListSize, idx.beamIters, idx.roundDigits)
    if (cacheNodes > 0) s.enableWarmCache(cacheNodes) else s
  }

  /** One query term's cursor over its posting list: sorted doc ids, the
    * term's raw score upper bound, and the current posting's raw
    * contribution under the [[SparseScorer]] that made it. */
  abstract class SparseCursor(ids: Array[Long], val ub: Long) {
    var pos = 0
    final def id: Long = if (pos < ids.length) ids(pos) else Long.MaxValue
    def contrib: Long
    /** Galloping seek to the first id >= target: total advance over a
      * query stays O(list length) however far the walk jumps. */
    final def seek(target: Long): Unit = {
      var step = 1
      while (pos + step < ids.length && ids(pos + step) < target) step <<= 1
      var hi = math.min(pos + step, ids.length)
      while (pos < hi) {
        val mid = (pos + hi) >>> 1
        if (ids(mid) < target) pos = mid + 1 else hi = mid
      }
    }
  }

  /** The reference's DocValueComputer (`sparse_utils.h:54-66`, PAPER
    * §1.3): how one posting scores, which is all that separates IP from
    * BM25 serving. The DAAT engine sums raw Long contributions (exact and
    * order-free), `render` turns a raw sum into the reported score, and
    * `floor` maps a rendered score back to raw: a raw sum strictly below
    * `floor(s)` renders strictly below `s`. When `exactFloor`, a raw sum
    * equal to the floor renders exactly `s`, so a tie there is decided by
    * id. `label` suffixes the scorer's telemetry verbs. */
  sealed abstract class SparseScorer(val hasRawData: Boolean, val label: String) {
    /** Cursor over `term`'s postings at query weight `qw`; null when the
      * shard has no postings for it. */
    def cursor(term: String, qw: Long): SparseCursor
    def render(raw: Long): Double
    def floor(score: Double): Double
    def exactFloor: Boolean
  }

  /** IP: contribution qw·tf, bound qw·max tf, and the integer sum is the
    * score. The postings are the raw sparse rows, so V7/V8 answer — the
    * reference's sparse index has raw data exactly on the IP metric
    * (`sparse_index_node.cc:541-543`). */
  final class IpScorer(
      postings: java.util.HashMap[String, (Array[Long], Array[Long])], // term -> (sorted ids, tfs)
      maxTf: java.util.HashMap[String, Long]
  ) extends SparseScorer(hasRawData = true, label = "") {
    def cursor(term: String, qw: Long): SparseCursor = {
      val p = postings.get(term)
      if (p == null) null
      else new SparseCursor(p._1, qw * maxTf.get(term)) {
        private val tfs = p._2
        def contrib: Long = qw * tfs(pos)
      }
    }
    def render(raw: Long): Double = raw.toDouble
    def floor(score: Double): Double = score
    def exactFloor: Boolean = true

    /** id → sorted (term, tf) rows, inverted once on first V7 call. */
    private[Serve] lazy val byId: java.util.HashMap[Long, Array[(String, Long)]] = {
      val tmp = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[(String, Long)]]()
      postings.forEach { (term, p) =>
        p._1.indices.foreach { i =>
          tmp.computeIfAbsent(p._1(i), _ => scala.collection.mutable.ArrayBuffer.empty)
            .append((term, p._2(i)))
        }
      }
      val m = new java.util.HashMap[Long, Array[(String, Long)]]()
      tmp.forEach((id, buf) => m.put(id, buf.sortBy(_._1).toArray))
      m
    }
  }

  /** BM25 over the batch expressions' own Spark-computed idf/tfw doubles
    * (collected at load — the reference bakes k1/b into the bounds at load
    * too, `sparse_inverted_index.h:148-154`): contribution is the batch
    * `searchBM25` arithmetic bit for bit, half-up of qtf·idf·tfw·1e9 to
    * Long; bound ceil(qtf·idf·max tfw·1e9)+1; score round4(sum/1e9). The
    * floor (s − 1e-4)·1e9 is conservative — a raw sum below it cannot
    * 4dp-round up to `s` — so the 4dp merge never costs a tie the batch
    * rank keeps. The postings hold transformed weights: no raw data. */
  final class Bm25Scorer(
      postings: java.util.HashMap[String, (Array[Long], Array[Double])], // term -> (sorted ids, tfw)
      idf: java.util.HashMap[String, Double],
      maxTfw: java.util.HashMap[String, Double]
  ) extends SparseScorer(hasRawData = false, label = "_bm25") {
    def cursor(term: String, qw: Long): SparseCursor = {
      val p = postings.get(term)
      if (p == null) null
      else {
        val qi = qw.toDouble * idf.get(term)
        new SparseCursor(p._1, math.ceil(qi * maxTfw.get(term) * 1e9d).toLong + 1L) {
          private val tfw = p._2
          def contrib: Long = sparkRound(qi * tfw(pos) * 1e9d, 0).toLong
        }
      }
    }
    def render(raw: Long): Double = sparkRound(raw.toDouble / 1e9d, 4)
    def floor(score: Double): Double = (score - 1e-4d) * 1e9d
    def exactFloor: Boolean = false
  }

  /** What a WAND walk keeps: the pivot test on a prefix sum of raw upper
    * bounds, and the fully scored allowed docs. */
  private sealed abstract class SparseCollector {
    def admits(ubSum: Long): Boolean
    def collect(id: Long, raw: Long): Unit
    def result: Seq[(Long, Double)]
  }

  /** Bounded top-k, worst-first over (score asc, id desc) so score ties
    * keep the SMALLEST ids. `floor` is the raw sum a contender must reach:
    * −∞ until the heap fills. */
  private final class TopK(k: Int, scorer: SparseScorer) extends SparseCollector {
    private val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
      Ordering.Tuple2(Ordering.Double.TotalOrdering.reverse, Ordering.Long))
    def floor: Double =
      if (heap.size < k) Double.NegativeInfinity else scorer.floor(heap.head._1)
    // >= keeps equal-score smaller-id ties reachable
    def admits(ubSum: Long): Boolean = ubSum.toDouble >= floor
    /** No doc `id` with raw score ≤ `bound` can enter the heap. */
    def excludes(bound: Long, id: Long): Boolean = {
      val f = floor
      bound.toDouble < f || (scorer.exactFloor && bound.toDouble == f && id >= heap.head._2)
    }
    def collect(id: Long, raw: Long): Unit = {
      val s = scorer.render(raw)
      if (heap.size < k || s > heap.head._1 || (s == heap.head._1 && id < heap.head._2)) {
        heap.enqueue((s, id))
        if (heap.size > k) heap.dequeue()
      }
    }
    def result: Seq[(Long, Double)] =
      heap.toSeq.map { case (s, id) => (id, s) }.sortBy { case (id, s) => (-s, id) }
  }

  /** Range shell `score > radius && score <= rangeFilter` (the batch
    * `rangeIP`/`rangeBM25` contract) with a STATIC pivot test: a doc can
    * clear the shell's lower bound only when its raw bound passes the
    * scorer's floor for `radius`. */
  private final class Shell(radius: Double, rangeFilter: Double, scorer: SparseScorer)
      extends SparseCollector {
    private val lo = scorer.floor(radius)
    private val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    def admits(ubSum: Long): Boolean = ubSum.toDouble > lo
    def collect(id: Long, raw: Long): Unit = {
      val s = scorer.render(raw)
      if (s > radius && s <= rangeFilter) out += ((id, s))
    }
    def result: Seq[(Long, Double)] = out.sortBy { case (id, s) => (-s, id) }.toSeq
  }

  /** Per-query EXACT sparse serving: the reference's document-at-a-time
    * engine (`sparse_inverted_index.h:699-830`, DAAT_WAND and
    * DAAT_MAXSCORE) over one posting shard, parameterized by its
    * [[SparseScorer]]. The pruning bounds are sound, so every verb equals
    * the batch `SparseSearch.searchIP`/`searchBM25`/`rangeIP`/`rangeBM25`
    * answer bit for bit, including the (score desc, id asc) tie order —
    * gated by equality, not recall.
    *
    * Filtering is the reference's universal bitset contract: a
    * disallowed doc's cursors advance (its postings are consumed either
    * way) but it is never scored or kept, so the bounds stay sound.
    *
    * Work counters, written by every call: `lastScored` = allowed docs
    * fully scored, `lastSkipped` = doc ids WAND skipped past (0 on
    * MaxScore), `lastAbandoned` = MaxScore early abandons (0 on WAND).
    *
    * Hostile input: `k < 1` and negative query weights raise
    * IllegalArgumentException — every pruning bound assumes non-negative
    * contributions. */
  final class LocalSparseSearcher(scorer: SparseScorer) {

    @volatile var lastScored: Long = 0L
    @volatile var lastSkipped: Long = 0L
    @volatile var lastAbandoned: Long = 0L

    // telemetry verbs: search, search_maxscore, range (+ "_bm25" infix)
    private val wandVerb = "search" + scorer.label
    private val maxScoreVerb = wandVerb + "_maxscore"
    private val rangeVerb = "range" + scorer.label

    /** Serving-side V8, from the scorer. */
    def hasRawData: Boolean = scorer.hasRawData

    /** Serving-side V7: the raw sparse rows (term asc, tf) for the
      * requested ids in request order; absent ids are skipped. */
    def getVectorByIds(ids: Seq[Long]): Seq[(Long, Seq[(String, Long)])] = scorer match {
      case ip: IpScorer => ids.flatMap(id => Option(ip.byId.get(id)).map(id -> _.toSeq))
      case _ => throw new UnsupportedOperationException(
        "BM25 postings hold transformed weights, not the raw sparse rows")
    }

    def search(query: Seq[(String, Long)], k: Int): Seq[(Long, Double)] =
      search(query, k, null)

    /** DAAT-WAND top-k (`sparse_inverted_index.h:699-757`). */
    def search(
        query: Seq[(String, Long)], k: Int,
        allowed: Long => Boolean): Seq[(Long, Double)] =
      Telemetry.timed("SERVE_SPARSE", wandVerb) {
        wand(cursors(query), allowed, topK(k))
      }

    /** Range search: the WAND walk with the shell's static pivot test. */
    def rangeSearch(
        query: Seq[(String, Long)], radius: Double, rangeFilter: Double,
        allowed: Long => Boolean = null): Seq[(Long, Double)] =
      Telemetry.timed("SERVE_SPARSE", rangeVerb) {
        wand(cursors(query), allowed, new Shell(radius, rangeFilter, scorer))
      }

    def searchMaxScore(query: Seq[(String, Long)], k: Int): Seq[(Long, Double)] =
      searchMaxScore(query, k, null)

    /** DAAT-MaxScore top-k (`sparse_inverted_index.h:759-830`). */
    def searchMaxScore(
        query: Seq[(String, Long)], k: Int,
        allowed: Long => Boolean): Seq[(Long, Double)] =
      Telemetry.timed("SERVE_SPARSE", maxScoreVerb) {
        maxScore(cursors(query), allowed, topK(k))
      }

    private def topK(k: Int): TopK = {
      require(k >= 1, s"sparse top-k needs k >= 1, got $k")
      new TopK(k, scorer)
    }

    private def cursors(query: Seq[(String, Long)]): Array[SparseCursor] = {
      query.foreach { case (t, w) =>
        require(w >= 0, s"negative query weight $w on term '$t': sparse pruning needs weights >= 0")
      }
      query.iterator.map { case (t, w) => scorer.cursor(t, w) }.filter(_ != null).toArray
    }

    /** The WAND walk: cursors in id order; the pivot is the first cursor
      * whose upper-bound prefix the collector admits. When every earlier
      * cursor already sits on the pivot doc it is fully scored, otherwise
      * those cursors gallop past the unbeatable id gap. */
    private def wand(
        curs: Array[SparseCursor], allowed: Long => Boolean,
        out: SparseCollector): Seq[(Long, Double)] = {
      var scored = 0L
      var skipped = 0L
      // cursor order maintained IN PLACE by insertion sort (stable, and
      // nearly sorted after every advance — O(n) amortized): allocating
      // and sorting a fresh order per pivot dominated serving latency.
      // Exhausted cursors (id = MaxValue) sink to the tail.
      val order = curs.indices.toArray
      def resort(): Unit = {
        var i = 1
        while (i < order.length) {
          val oi = order(i)
          val key = curs(oi).id
          var j = i - 1
          while (j >= 0 && curs(order(j)).id > key) {
            order(j + 1) = order(j); j -= 1
          }
          order(j + 1) = oi
          i += 1
        }
      }
      var done = curs.isEmpty
      while (!done) {
        resort()
        if (curs(order(0)).id == Long.MaxValue) done = true
        else {
          var acc = 0L
          var pivot = -1
          var i = 0
          while (i < order.length && pivot < 0 && curs(order(i)).id != Long.MaxValue) {
            acc += curs(order(i)).ub
            if (out.admits(acc)) pivot = i
            i += 1
          }
          if (pivot < 0) done = true // no remaining doc can be kept
          else {
            val pivotId = curs(order(pivot)).id
            if (curs(order(0)).id == pivotId) {
              var s = 0L
              curs.foreach { c =>
                if (c.id == pivotId) { s += c.contrib; c.pos += 1 }
              }
              if (allowed == null || allowed(pivotId)) {
                scored += 1
                out.collect(pivotId, s)
              }
            } else {
              skipped += pivotId - curs(order(0)).id
              var j = 0
              while (j < order.length && curs(order(j)).id < pivotId) {
                curs(order(j)).seek(pivotId); j += 1
              }
            }
          }
        }
      }
      lastScored = scored
      lastSkipped = skipped
      lastAbandoned = 0L
      out.result
    }

    /** The MaxScore walk: terms sort by upper bound once; the maximal
      * ascending-bound prefix whose bound sum stays under the heap's raw
      * floor is NON-ESSENTIAL. Documents are driven DAAT over the
      * essential lists only, and each allowed candidate completes against
      * the non-essential lists (descending bound, galloping seeks) with
      * early abandonment once its remaining bound cannot enter the heap.
      * No per-pivot re-sort, and docs living only in non-essential lists
      * are never visited. */
    private def maxScore(
        unsorted: Array[SparseCursor], allowed: Long => Boolean,
        top: TopK): Seq[(Long, Double)] = {
      val curs = unsorted.sortBy(_.ub)
      val n = curs.length
      // prefix(b) = Σ ub[0..b-1]: a doc present ONLY in lists [0, b)
      // scores at most prefix(b)
      val prefix = curs.map(_.ub).scanLeft(0L)(_ + _)
      var scored = 0L
      var abandoned = 0L
      var essFrom = 0 // lists [essFrom, n) are essential
      // the floor only rises, so the non-essential prefix only grows
      def refreshBoundary(): Unit = {
        val f = top.floor
        while (essFrom < n && prefix(essFrom + 1).toDouble < f) essFrom += 1
      }
      var done = n == 0
      while (!done) {
        var cand = Long.MaxValue
        var i = essFrom
        while (i < n) {
          val c = curs(i).id; if (c < cand) cand = c
          i += 1
        }
        if (cand == Long.MaxValue) done = true
        else {
          var s = 0L
          i = essFrom
          while (i < n) {
            val c = curs(i)
            if (c.id == cand) { s += c.contrib; c.pos += 1 }
            i += 1
          }
          if (allowed == null || allowed(cand)) {
            var j = essFrom - 1
            var rem = prefix(essFrom)
            var alive = true
            while (j >= 0 && alive) {
              if (top.excludes(s + rem, cand)) alive = false
              else {
                val c = curs(j)
                c.seek(cand)
                if (c.id == cand) s += c.contrib
                rem -= c.ub
                j -= 1
              }
            }
            if (alive) {
              scored += 1
              top.collect(cand, s)
              refreshBoundary()
            } else abandoned += 1
          }
        }
      }
      lastScored = scored
      lastSkipped = 0L
      lastAbandoned = abandoned
      top.result
    }
  }

  /** The BM25 searcher is the same engine under [[Bm25Scorer]]; the name
    * stays for callers that type a BM25 shard. */
  type LocalSparseBM25Searcher = LocalSparseSearcher

  /** Load a BM25 posting shard: per-posting tfw and per-term idf are the
    * batch expressions' OWN Spark-computed doubles, so serving arithmetic
    * is bit-identical by construction. */
  def loadSparseBM25(model: SparseIndexModel): LocalSparseBM25Searcher = {
    val prep = model.postings
      .join(model.termStats.select(col("term"), col("df")), "term")
      .select(col("term"), col("id"),
        SparseSearch.bm25IdfExpr(model.n).as("idf"),
        SparseSearch.bm25TfwExpr(model.avgdl, model.k1, model.b).as("tfw"))
    val pm = new java.util.HashMap[String, (Array[Long], Array[Double])]()
    val im = new java.util.HashMap[String, Double]()
    val mm = new java.util.HashMap[String, Double]()
    groups(prep, col("term"), "tfw", MaxShardCompactRows,
        first(col("idf")), max(col("tfw"))) { (r, ids, rows) =>
      val t = r.get(0).toString
      pm.put(t, (ids, rows.map(_.getDouble(1)).toArray))
      im.put(t, r.getDouble(2))
      mm.put(t, r.getDouble(3))
    }
    new LocalSparseSearcher(new Bm25Scorer(pm, im, mm))
  }

  /** Load a sparse IP posting shard for serving (term-keyed lists sorted
    * by doc id + per-term max tf). */
  def loadSparse(
      postings: DataFrame // (term, id, tf)
  ): LocalSparseSearcher = {
    val pm = new java.util.HashMap[String, (Array[Long], Array[Long])]()
    val mt = new java.util.HashMap[String, Long]()
    groups(postings, col("term"), "tf", MaxShardCompactRows, max(col("tf"))) { (r, ids, rows) =>
      val t = r.get(0).toString
      pm.put(t, (ids, rows.map(_.getLong(1)).toArray))
      mt.put(t, r.getLong(2))
    }
    new LocalSparseSearcher(new IpScorer(pm, mt))
  }

  /** Per-query ANN ITERATOR session — the serving twin of the V6 verb
    * (`index_node.h:583-679`): a ranked candidate stream consumed in
    * pages, resumable across calls. Wraps any serving arm's ranked output
    * (full-probe IVF for the exact stream, a graph walk for the
    * ef-bounded one) — the stream quality is exactly the arm's, as the
    * reference's iterator quality is its index's. */
  final class ServingIterator(ranked: Seq[(Long, Double)]) {
    private var cursor = 0
    /** Next `pageSize` results in rank order; empty when exhausted. */
    def nextPage(pageSize: Int): Seq[(Long, Double)] = {
      val page = ranked.slice(cursor, cursor + pageSize)
      cursor += page.length
      page
    }
    def hasNext: Boolean = cursor < ranked.length
    /** Rewind — the reference's iterator-reset/resume contract. */
    def reset(): Unit = cursor = 0
  }

  /** Per-query hybrid RRF fusion of two serving arms — the batch
    * `Fusion.rrf` integer arithmetic (Σ RrfScale DIV (k0 + rank), score
    * desc / id asc) applied driver-side to the arms' ranked ids. With
    * exact serving arms (full-probe IVF, BM25 WAND) the fused page is
    * bit-identical to the batch hybrid pipeline — gated in ServeSpec. */
  def hybridRrf(
      armsRanked: Seq[Seq[Long]], // each arm's nids in rank order (rank 1 first)
      k: Int,
      k0: Int = 60
  ): Seq[(Long, Long)] =
    Telemetry.timed("SERVE", "search_hybrid_rrf") {
      val score = scala.collection.mutable.HashMap.empty[Long, Long]
      armsRanked.foreach(_.zipWithIndex.foreach { case (id, i) =>
        score(id) = score.getOrElse(id, 0L) + Fusion.RrfScale / (k0 + i + 1L)
      })
      score.toSeq.sortBy { case (id, s) => (-s, id) }.take(k)
    }

  /** Load a graph shard for serving — bounded collect with a loud guard
    * (the serving node holds the shard in memory, as the reference does;
    * shards beyond the cap belong on more serving nodes, not in one
    * driver). */
  def load(
      graph: DataFrame, // (src, dst)
      base: DataFrame, // (id, vec)
      entries: DataFrame, // (nid)
      metric: Metric = Metric.L2,
      hasRaw: Boolean = true // false when `base` is a quantized tier
  ): LocalGraphSearcher =
    new LocalGraphSearcher(adjacency(graph), vectorMap(base)(floatVec), entryIds(entries),
      metric, hasRaw = hasRaw)

  /** [[load]] over a byte-packed vector tier kept packed in serving
    * memory and decoded inline per distance evaluation by `decode`. */
  private def loadPackedTier(
      graph: DataFrame,
      tier: DataFrame, // (id, packed payload)
      entries: DataFrame,
      metric: Metric,
      payload: Row => Array[Byte],
      hasRaw: Boolean)(
      decode: Array[Byte] => Array[Float]): LocalGraphSearcher = {
    val adj = adjacency(graph)
    val pm = vectorMap(tier)(payload)
    new LocalGraphSearcher(adj, null, entryIds(entries), metric,
      hasRaw = hasRaw, packed = pm, packedDecode = decode)
  }

  /** [[load]] over a 2-byte-packed (binary16/bfloat16 BINARY) vector
    * tier — vectors stay packed in serving memory (HALF the resident
    * bytes of the fp32 tier, i.e. double the corpus per serving node
    * under the same cap) and decode inline per distance evaluation, the
    * serving twin of the batch packed kernels (`plans/Half.scala`;
    * reference fp16/bf16 storage `operands.h:48-147`, fp32 compute
    * `:180-198`). Queries must be grid-narrowed (pack→unpack) so both
    * sides sit on the half grid, exactly as the batch packed queries
    * narrow both sides; then the walk is bit-identical to a float
    * searcher loaded from the decoded vectors (ServeSpec-gated). The
    * packed tier IS this index's raw data (the reference's fp16 flat
    * answers HasRawData true), so V7 answers with the exact decode. */
  def loadPacked(
      graph: DataFrame, // (src, dst)
      base: DataFrame, // (id, vecb BINARY — VecPackHalf output)
      entries: DataFrame, // (nid)
      metric: Metric = Metric.L2,
      bf16: Boolean = false
  ): LocalGraphSearcher =
    loadPackedTier(graph, base, entries, metric, packedBytes, hasRaw = true)(
      b => graft.plans.Half.unpack(b, bf16))

  /** [[loadPacked]] for the int8 storage tier (`operands.h:48-147` int8,
    * fp32 compute): vectors stay 1-byte-packed in serving memory — a
    * QUARTER of the fp32 resident bytes, 4× the corpus per serving node
    * under the same cap — and decode inline per evaluation to the
    * int8-dequantized float grid (`Half.unpackInt8ToFloat`: byte/scale
    * in double, correctly rounded to float — identical to the batch
    * `unpackInt8(..).cast("array<float>")` decode). Queries must be
    * grid-narrowed the same way; the walk is then bit-identical to a
    * float searcher loaded from the decoded grid (ServeSpec-gated). The
    * packed tier IS this index's raw data — V7 answers the exact decode. */
  def loadPackedInt8(
      graph: DataFrame, // (src, dst)
      base: DataFrame, // (id, vecb BINARY — VecPackInt8 output)
      entries: DataFrame, // (nid)
      metric: Metric = Metric.L2,
      scale: Double = 100.0d
  ): LocalGraphSearcher =
    loadPackedTier(graph, base, entries, metric, packedBytes, hasRaw = true)(
      b => graft.plans.Half.unpackInt8ToFloat(b, scale))

  /** HNSW_SQ serving-memory parity: the graph's traversal tier holds
    * 1-byte-per-dim SQ8 CODES (4× fewer resident bytes than the decoded
    * fp32 tier `loadRefined` collects) and decodes inline per distance
    * evaluation to the same float grid the batch quantized tier computes
    * (`sq8Recon(..).cast("array<float>")` — midpoint recon in double,
    * correctly rounded to float), so the walk is bit-identical to a
    * float searcher loaded from that decoded frame (ServeSpec-gated).
    * Codes come from the batch tier's own Spark projection, so serving
    * quantizes identically by construction. The coded tier answers V8
    * false — it is not the raw data (the reference's HNSW_SQ/HNSW_PQ hold
    * codes, `faiss_hnsw.cc:2928-2939`); V7 routes through a
    * [[RefinedSearcher]]'s raw tier instead. */
  def loadPackedSq8(
      graph: DataFrame, // (src, dst)
      base: DataFrame, // (id, vec) — raw fp32; codes computed here
      entries: DataFrame, // (nid)
      stats: Option[DataFrame] = None, // trained quantizer (Train-once)
      metric: Metric = Metric.L2
  ): LocalGraphSearcher = {
    val st = stats.getOrElse(Quantization.sq8Train(base))
    val strow = st.select(col("mn"), col("mx")).head()
    val mn = strow.getSeq[Double](0).toArray
    val mx = strow.getSeq[Double](1).toArray
    val coded = base
      .crossJoin(broadcast(st))
      .select(col("id"),
        Quantization.sq8Code(col("vec"), col("mn"), col("mx")).as("codes"))
    loadPackedTier(graph, coded, entries, metric, codeBytes, hasRaw = false) { b =>
      val out = new Array[Float](b.length)
      var i = 0
      while (i < b.length) {
        out(i) = (mn(i) + ((b(i) & 0xFF).toDouble + 0.5d) * (mx(i) - mn(i)) / 255.0d).toFloat
        i += 1
      }
      out
    }
  }

  /** HNSW_PQ serving-memory parity: m-byte PQ codes resident (d·4/m×
    * fewer bytes), decode = the per-subspace codeword concatenation
    * (`ProductQuant.reconExpr` — codewords are floats, so decode is
    * exact) — walk-identical to a float searcher over the recon frame. */
  def loadPackedPq(
      graph: DataFrame, // (src, dst)
      base: DataFrame, // (id, vec)
      entries: DataFrame, // (nid)
      model: ProductQuant.PQModel,
      metric: Metric = Metric.L2
  ): LocalGraphSearcher = {
    require(model.ksub <= 256, s"PQ ksub ${model.ksub} exceeds 1-byte codes")
    val coded = base.select(col("id"),
      ProductQuant.encodeExpr(col("vec"), model).as("codes"))
    loadPackedTier(graph, coded, entries, metric, codeBytes, hasRaw = false) { b =>
      val out = new Array[Float](model.m * model.dsub)
      var s = 0
      while (s < model.m) {
        System.arraycopy(model.codebooks(s)(b(s) & 0xFF), 0, out, s * model.dsub, model.dsub)
        s += 1
      }
      out
    }
  }

  /** [[loadRefined]] with the traversal tier held as SQ8 CODES instead
    * of decoded fp32 — the reference's HNSW_SQ-with-refine memory model
    * (codes traverse, refine-flat raw rescoring, `faiss_hnsw.cc` refine
    * 739-860): the walk is bit-identical to the decoded-frame refined
    * searcher at a quarter of the traversal-tier bytes. */
  def loadRefinedSq8(
      graph: DataFrame,
      base: DataFrame, // (id, vec) — raw tier (codes derived from it)
      entries: DataFrame,
      stats: Option[DataFrame] = None,
      metric: Metric = Metric.L2
  ): RefinedSearcher =
    new RefinedSearcher(loadPackedSq8(graph, base, entries, stats, metric),
      vectorMap(base.select(col("id"), col("vec")))(floatVec), metric)

  /** [[loadRefinedSq8]]'s PQ twin (HNSW_PQ-with-refine). */
  def loadRefinedPq(
      graph: DataFrame,
      base: DataFrame,
      entries: DataFrame,
      model: ProductQuant.PQModel,
      metric: Metric = Metric.L2
  ): RefinedSearcher =
    new RefinedSearcher(loadPackedPq(graph, base, entries, model, metric),
      vectorMap(base.select(col("id"), col("vec")))(floatVec), metric)
}
