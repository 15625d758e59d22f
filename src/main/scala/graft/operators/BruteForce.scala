package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Distance metrics, mirroring the reference metric set
  * (`src/common/comp/brute_force.cc:104-265`). `ascending` = smaller is
  * closer (true for distances, false for similarities — IP/COSINE results
  * are ordered descending in Knowhere, and range-search bound direction
  * flips, `include/knowhere/range_util.h:22-25`).
  */
sealed abstract class Metric(val name: String, val ascending: Boolean) {
  def dist(q: Column, b: Column): Column
}
object Metric {
  case object L2 extends Metric("l2", true) {
    def dist(q: Column, b: Column): Column = l2(q, b)
  }
  /** faiss/Knowhere L2 returns squared distance; exposed separately. */
  case object L2Sq extends Metric("l2sq", true) {
    def dist(q: Column, b: Column): Column = l2Sq(q, b)
  }
  case object IP extends Metric("ip", false) {
    def dist(q: Column, b: Column): Column = dot(q, b)
  }
  case object Cosine extends Metric("cosine", false) {
    def dist(q: Column, b: Column): Column = cosineSim(q, b)
  }
  /** Over packed sign-bit signatures (ARRAY<BIGINT>). */
  case object Hamming extends Metric("hamming", true) {
    def dist(q: Column, b: Column): Column = hamming(q, b).cast("double")
  }
  case object Jaccard extends Metric("jaccard", true) {
    def dist(q: Column, b: Column): Column = jaccardDist(q, b)
  }

  def apply(s: String): Metric = s.toLowerCase match {
    case "l2"      => L2
    case "l2sq"    => L2Sq
    case "ip"      => IP
    case "cosine"  => Cosine
    case "hamming" => Hamming
    case "jaccard" => Jaccard
    case other     => throw new IllegalArgumentException(s"unknown metric $other")
  }
}

/** Exact (index-free) search — the reference's `BruteForce::Search` facade
  * (`include/knowhere/comp/brute_force.h:26-55`) and its FLAT index (which
  * stores nothing beyond the raw vectors, `src/index/flat/flat.cc:30-415`).
  *
  * Spark shape: broadcast the (small) query side, nested-loop join against
  * the (huge) base side — so the base table never shuffles; distance is a
  * codegen'd expression; per-query top-k is a partial-aggregable group-by
  * (window row_number for the v0 slice; see graft.functions TopK plan).
  *
  * At 100 TB the base side is the scan: queries are broadcast (nq is small),
  * distances are computed map-side, and only nq×k candidate rows per
  * partition survive to the final per-query reduction — no base-table
  * shuffle. The reference's per-query thread-pool fan-out
  * (`flat.cc:93-100`) becomes partition-parallelism here.
  */
object BruteForce {

  /** Top-k per query over candidate pairs: rank by (dist, id), ties broken
    * by id — result compared as sets at equal distance, like the reference's
    * recall metric (`tests/ut/utils.h:110-134`).
    *
    * `roundDist`: round distances *before* ranking — used by the oracle
    * queries so Spark and DuckDB rank identically despite last-ulp fp noise.
    */
  def topK(
      pairs: DataFrame,
      k: Int,
      ascending: Boolean,
      qidCol: String = "qid",
      idCol: String = "nid",
      distCol: String = "dist"
  ): DataFrame = {
    // bounded-heap aggregate (graft.plans.TopKAgg): map-side partial top-k,
    // shuffle carries ≤ k rows per (query, partition) instead of the whole
    // candidate set. Output (cols, order, ties) identical to topKWindow.
    import org.apache.spark.sql.GraftExpr
    val agg = GraftExpr.column(
      graft.plans
        .TopKAgg(
          GraftExpr.expression(col(distCol)),
          GraftExpr.expression(col(idCol).cast("long")),
          k,
          ascending)
        .toAggregateExpression())
    pairs
      .groupBy(col(qidCol))
      .agg(agg.as("_topk"))
      .select(col(qidCol), posexplode(col("_topk")).as(Seq("_pos", "_e")))
      .select(
        col(qidCol),
        col("_e.id").as(idCol),
        col("_e.dist").as(distCol),
        (col("_pos") + 1).cast("int").as("rnk"))
  }

  /** Window-ranking formulation (kept as the cross-check reference for
    * TopKAgg; preserves all input columns). */
  def topKWindow(
      pairs: DataFrame,
      k: Int,
      ascending: Boolean,
      qidCol: String = "qid",
      idCol: String = "nid",
      distCol: String = "dist"
  ): DataFrame = {
    val ord =
      if (ascending) Seq(col(distCol).asc, col(idCol).asc)
      else Seq(col(distCol).desc, col(idCol).asc)
    val w = Window.partitionBy(col(qidCol)).orderBy(ord: _*)
    pairs
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** All (query, base) candidate pairs with distances.
    * `filter` is the BitsetView analog (`bitsetview.h:21-147`): a predicate
    * over base rows, pushed into the scan *before* the join.
    */
  def pairs(
      queries: DataFrame, // (qid, qvec)
      base: DataFrame, // (id, vec, ...)
      metric: Metric,
      baseFilter: Option[Column] = None,
      roundDist: Option[Int] = None,
      carryCols: Seq[String] = Nil // base columns carried into the output
  ): DataFrame = {
    val filtered = baseFilter.map(base.filter).getOrElse(base)
    // Cached-norms optimization for COSINE (`brute_force.cc:66-101`,
    // SURVEY.md §4): norms are computed once per side below the join, not
    // per pair — same arithmetic (dot/(|a|·|b|)), identical values.
    val (q, b, raw) = metric match {
      case Metric.Cosine =>
        (
          queries.withColumn("_qn", normL2(col("qvec"))),
          filtered.withColumn("_bn", normL2(col("vec"))),
          cosineSimPre(col("qvec"), col("vec"), col("_qn"), col("_bn")))
      case m => (queries, filtered, m.dist(col("qvec"), col("vec")))
    }
    val d = roundDist.map(n => round(raw, n)).getOrElse(raw)
    broadcast(q)
      .crossJoin(b)
      .select(
        Seq(col("qid"), col("id").as("nid"), d.as("dist")) ++
          carryCols.map(col): _*)
  }

  /** Batched exact kNN: nq queries → nq×k (qid, nid, dist, rnk).
    * Reference: `BruteForce::Search` (`brute_force.cc:104-265`).
    * `idOffset` is the `input_begin_id` rebasing contract
    * (`brute_force.cc:249-253`, `test_bruteforce.cc:257`): neighbor ids in
    * the result are base ids shifted by the offset. */
  def knn(
      queries: DataFrame,
      base: DataFrame,
      k: Int,
      metric: Metric,
      baseFilter: Option[Column] = None,
      roundDist: Option[Int] = None,
      idOffset: Long = 0L
  ): DataFrame = {
    val res = topK(pairs(queries, base, metric, baseFilter, roundDist), k, metric.ascending)
    if (idOffset == 0L) res else res.withColumn("nid", col("nid") + idOffset)
  }

  /** [[knn]] in the reference's FIXED-SHAPE result contract: every query
    * gets exactly k slots; slots with no qualifying neighbor (filtered
    * base smaller than k) carry id = -1 and a null distance — the
    * `std::fill(labels, …, -1)` pre-fill the caller of
    * `BruteForce::Search` observes (`brute_force.cc:676`, dense heaps
    * leave faiss's -1 labels in place, `:800`; `-1` survives the
    * `input_begin_id` rebase untouched, `:251`).
    *
    * Shape: the k-slot frame is queries × sequence(1..k) — nq·k rows,
    * map-side — left-joined to the ranked result on (qid, rnk); the join
    * broadcasts the bounded kNN output, so the padding never adds a
    * shuffle. */
  def knnPadded(
      queries: DataFrame,
      base: DataFrame,
      k: Int,
      metric: Metric,
      baseFilter: Option[Column] = None,
      roundDist: Option[Int] = None
  ): DataFrame = {
    val res = knn(queries, base, k, metric, baseFilter, roundDist)
    val slots = queries
      .select(col("qid"), explode(sequence(lit(1), lit(k))).as("rnk"))
      .withColumn("rnk", col("rnk").cast("int"))
    slots
      .join(broadcast(res), Seq("qid", "rnk"), "left")
      .select(
        col("qid"),
        coalesce(col("nid"), lit(-1L)).as("nid"),
        col("dist"),
        col("rnk"))
  }

  /** Exact kNN over TRUE half-width storage: both sides are
    * `BINARY(dim*2)` fp16/bf16-packed columns (graft.plans.Half —
    * `operands.h:48-147` real 2-byte element types) and the distance
    * kernel decodes inline in codegen. Same pairs→top-k shape as [[knn]],
    * half the scan payload; values are bit-identical to the grid-cast
    * fp32 path, so both share one oracle. L2/L2Sq/IP/COSINE (cosine
    * rides the cached-norms shape of [[pairs]]: one norm per side below
    * the join, never per pair). */
  def knnPacked(
      queries: DataFrame, // (qid, qvec BINARY)
      base: DataFrame, // (id, vec BINARY)
      k: Int,
      metric: Metric,
      bf16: Boolean,
      baseFilter: Option[Column] = None,
      roundDist: Option[Int] = None
  ): DataFrame = {
    import graft.functions.VectorFunctions.{dotPackedBf16, dotPackedFp16, l2SqPackedBf16, l2SqPackedFp16}
    def dotP(a: Column, b: Column) =
      if (bf16) dotPackedBf16(a, b) else dotPackedFp16(a, b)
    val filtered = baseFilter.map(base.filter).getOrElse(base)
    val l2sq = if (bf16) l2SqPackedBf16(col("qvec"), col("vec")) else l2SqPackedFp16(col("qvec"), col("vec"))
    val (q, b, raw) = metric match {
      case Metric.L2 => (queries, filtered, sqrt(l2sq))
      case Metric.L2Sq => (queries, filtered, l2sq)
      case Metric.IP => (queries, filtered, dotP(col("qvec"), col("vec")))
      case Metric.Cosine => (
        queries.withColumn("_qn", sqrt(dotP(col("qvec"), col("qvec")))),
        filtered.withColumn("_bn", sqrt(dotP(col("vec"), col("vec")))),
        dotP(col("qvec"), col("vec")) / (col("_qn") * col("_bn")))
      case m => throw new IllegalArgumentException(s"packed kNN does not support metric ${m.name}")
    }
    val d = roundDist.map(n => round(raw, n)).getOrElse(raw)
    topK(
      broadcast(q)
        .crossJoin(b)
        .select(col("qid"), col("id").as("nid"), d.as("dist")),
      k, metric.ascending)
  }

  /** [[knnPacked]] for int8 packed storage (1 byte/element —
    * `operands.h` int8; quarter the fp32 scan bytes), dequantizing by
    * `scale` inline in codegen. */
  def knnPackedInt8(
      queries: DataFrame, // (qid, qvec BINARY)
      base: DataFrame, // (id, vec BINARY)
      k: Int,
      metric: Metric,
      scale: Double,
      baseFilter: Option[Column] = None,
      roundDist: Option[Int] = None
  ): DataFrame = {
    import graft.functions.VectorFunctions.{dotPackedInt8, l2SqPackedInt8}
    val filtered = baseFilter.map(base.filter).getOrElse(base)
    val raw = metric match {
      case Metric.L2 => sqrt(l2SqPackedInt8(col("qvec"), col("vec"), scale))
      case Metric.L2Sq => l2SqPackedInt8(col("qvec"), col("vec"), scale)
      case Metric.IP => dotPackedInt8(col("qvec"), col("vec"), scale)
      case m => throw new IllegalArgumentException(s"packed kNN does not support metric ${m.name}")
    }
    val d = roundDist.map(n => round(raw, n)).getOrElse(raw)
    topK(
      broadcast(queries)
        .crossJoin(filtered)
        .select(col("qid"), col("id").as("nid"), d.as("dist")),
      k, metric.ascending)
  }

  /** Exact range search: all neighbors with distance inside the two-sided
    * bound. L2-like (ascending): rangeFilter <= d < radius; similarity
    * metrics invert: radius < d <= rangeFilter
    * (`include/knowhere/range_util.h:22-25`). Output is the exploded CSR:
    * variable rows per qid (`lims` = count group by qid). */
  def rangeSearch(
      queries: DataFrame,
      base: DataFrame,
      metric: Metric,
      radius: Double,
      rangeFilter: Double,
      baseFilter: Option[Column] = None,
      roundDist: Option[Int] = None
  ): DataFrame = {
    val p = pairs(queries, base, metric, baseFilter, roundDist)
    val keep =
      if (metric.ascending) col("dist") >= rangeFilter && col("dist") < radius
      else col("dist") > radius && col("dist") <= rangeFilter
    p.filter(keep)
  }

  /** Range search bounded by the reference's `range_search_k` knob
    * (`include/knowhere/config.h:599-601`; the default RangeSearch runs
    * through the iterator and can stop once k in-range results are found,
    * `index_node.h:190-291`): each query keeps only its BEST `capK`
    * in-range neighbors — nearest first for distance metrics, highest
    * first for similarity metrics, (dist, id) tie-break. `capK < 0`
    * disables the cap (the reference default −1). The cap is what bounds
    * a huge-radius range query's result at scale: the per-query output is
    * ≤ capK rows however many neighbors fall inside the bound. */
  def rangeSearchCapped(
      queries: DataFrame,
      base: DataFrame,
      metric: Metric,
      radius: Double,
      rangeFilter: Double,
      capK: Int,
      baseFilter: Option[Column] = None,
      roundDist: Option[Int] = None
  ): DataFrame = {
    val r = rangeSearch(queries, base, metric, radius, rangeFilter, baseFilter, roundDist)
    if (capK < 0) r
    else topK(r, capK, metric.ascending).select(col("qid"), col("nid"), col("dist"))
  }

  /** Fused exact kNN for LARGE query sets (all-pairs shapes like k-NN-graph
    * build and corpus-wide near-dup scans): the reference's own execution
    * shape (`flat.cc:70-140` — queries resident, one scan over base, one
    * bounded heap per query, merge) as a per-partition tight loop.
    *
    * The declarative [[knn]] is the default API; at nq ≈ nb the per-pair
    * row machinery of join+aggregate dominates (measured ~1.2 µs/pair vs
    * ~0.02 µs/pair here), which is when the mapPartitions tier of the
    * custom-operator ladder is warranted. Output is IDENTICAL to [[knn]]
    * (same double arithmetic, same round-before-rank — Spark `round` =
    * HALF_UP — same (dist, id) tie-break); a spec asserts equality and the
    * driver oracle gates the queries that ride it.
    *
    * Scale shape: queries ship in BOUNDED chunks via
    * `sparkContext.broadcast` (one torrent copy per executor, spillable —
    * never a closure capture re-serialized into every task, and never the
    * whole query table resident at once when nq ≈ nb): the query side is
    * hash-split into min(nq, ceil(nq·rowBytes / chunkBytes)) chunks, each
    * chunk is collected, broadcast, and fused against one pass over the
    * base scan; per-chunk candidate sets union into the final bounded-heap
    * merge.
    * Each qid lives in exactly one chunk, so the union is disjoint by
    * query and the merge is exact. The base never shuffles and each
    * partition emits ≤ nq×k candidate rows. Supports the dense float
    * metrics (L2/L2Sq/IP/Cosine).
    */
  def knnFused(
      queries: DataFrame, // (qid, qvec)
      base: DataFrame, // (id, vec)
      k: Int,
      metric: Metric,
      roundDist: Option[Int] = None,
      excludeSelf: Boolean = false,
      chunkBytes: Long = 256L << 20
  ): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val sc = spark.sparkContext
    val qSide = queries.select(col("qid").cast("long"), col("qvec"))
    val nq0 = qSide.count()
    if (nq0 == 0)
      // match knn(): a filtered-to-empty query side yields an empty result
      return spark.range(0)
        .select(col("id").as("qid"), col("id").as("nid"),
          col("id").cast("double").as("dist"), col("id").cast("int").as("rnk"))
    val dim = qSide.select(size(col("qvec"))).head().getInt(0)
    val rowBytes = 4L * dim + 32L
    // at most one chunk per query: past that, chunks only add empty
    // collect jobs, broadcasts and union branches
    val numChunks = math.min(nq0, math.max(1L, (nq0 * rowBytes + chunkBytes - 1) / chunkBytes)).toInt
    val rDigits = roundDist.getOrElse(-1)
    val asc = metric.ascending
    val m = metric // avoid closing over the DataFrame-bound Column factory

    val chunkDfs = (0 until numChunks).map { chunk =>
      val qRows: Array[(Long, Array[Float])] = qSide
        .filter(pmod(xxhash64(col("qid")), lit(numChunks)) === chunk)
        .as[(Long, Array[Float])]
        .collect()
      val qNorms: Array[Double] = metric match {
        case Metric.Cosine => qRows.map(r => math.sqrt(selfDot(r._2)))
        case _ => null
      }
      val bc = sc.broadcast((qRows, qNorms))
      base
        .select(col("id").cast("long"), col("vec"))
        .as[(Long, Array[Float])]
        .mapPartitions { it =>
          val (qr, qn) = bc.value
          val nq = qr.length
          val heaps = Array.fill(nq)(new graft.plans.TopKBuffer(k, asc))
          while (it.hasNext) {
            val (id, vec) = it.next()
            // base-row norm hoisted out of the query loop
            val bNorm = if (qn != null) math.sqrt(selfDot(vec)) else 0.0
            var q = 0
            while (q < nq) {
              if (!(excludeSelf && qr(q)._1 == id)) {
                val qv = qr(q)._2
                var d = m match {
                  case Metric.L2 => math.sqrt(l2SqLocal(qv, vec))
                  case Metric.L2Sq => l2SqLocal(qv, vec)
                  case Metric.IP => dotLocal(qv, vec)
                  case Metric.Cosine => dotLocal(qv, vec) / (qn(q) * bNorm)
                  case other => throw new IllegalArgumentException(s"knnFused: unsupported metric $other")
                }
                if (rDigits >= 0) d = roundHalfUp(d, rDigits)
                heaps(q).insert(d, id)
              }
              q += 1
            }
          }
          (0 until nq).iterator.flatMap { q =>
            heaps(q).sorted.iterator.map { case (d, id) => (qr(q)._1, id, d) }
          }
        }
    }
    val candidates = chunkDfs.reduce(_ union _).toDF("qid", "nid", "dist")
    topK(candidates, k, asc)
  }

  private[graft] def l2SqLocal(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
    s
  }

  private[graft] def dotLocal(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  private[graft] def selfDot(a: Array[Float]): Double = dotLocal(a, a)

  /** Same semantics as Spark's `round(col, r)`: HALF_UP on the BigDecimal
    * value of the double — via the guard-banded fast path (RoundingSpec-
    * gated equal; the BigDecimal allocation per candidate was ~20 jstack
    * samples in the fused-kNN inner loop of the graph builds). */
  private[graft] def roundHalfUp(d: Double, r: Int): Double =
    graft.plans.FastRound.round(d, r)

  /** Fetch raw vectors for ids — `GetVectorByIds` (`flat.cc:222-256`).
    * Broadcast the id list; base-side stays a pruned scan. */
  def getVectorByIds(ids: DataFrame, base: DataFrame, idCol: String = "id"): DataFrame =
    base.join(broadcast(ids), Seq(idCol), "left_semi")

  /** AnnIterator analog (V6/S4, `index_node.h:451-679`): the per-query
    * neighbor stream in increasing-distance order, consumed as pages —
    * page p (1-based) of size pageSize is ranks ((p−1)·pageSize, p·pageSize].
    * The reference's lazy `Next()` becomes resumable pagination over the
    * deterministic ranking. */
  def annIteratorPage(
      queries: DataFrame,
      base: DataFrame,
      metric: Metric,
      page: Int,
      pageSize: Int,
      baseFilter: Option[Column] = None,
      roundDist: Option[Int] = None
  ): DataFrame =
    knn(queries, base, page * pageSize, metric, baseFilter, roundDist)
      .filter(col("rnk") > (page - 1) * pageSize)
}
