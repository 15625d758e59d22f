package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.VectorFunctions._
import graft.operators.{BruteForce, Metric}

/** Property-style matrices (the reference's `GENERATE` device,
  * `tests/ut/utils.h:40-108`): seeded random inputs, invariants asserted
  * against an independent formulation.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  /** Reference IEEE-754 binary16 round-trip, implemented independently via
    * bit manipulation (round-to-nearest-even, gradual underflow) — the
    * ground truth for the SQL-expressible storage-cast grid. */
  private def fp16RoundTrip(f: Float): Float = {
    val bits = java.lang.Float.floatToIntBits(f)
    val sign = (bits >>> 16) & 0x8000
    val absBits = bits & 0x7fffffff
    if (absBits == 0) return java.lang.Float.intBitsToFloat(sign << 16)
    val e = (absBits >>> 23) - 127 // unbiased exponent
    val halfBits: Int =
      if (e >= 16) sign | 0x7c00 // overflow → inf (out of scope for data)
      else if (e >= -14) {
        // normal half: 10 mantissa bits, round-half-even on the dropped 13
        val m = absBits & 0x7fffff
        val base = ((e + 15) << 10) | (m >>> 13)
        val rem = m & 0x1fff
        val rounded =
          if (rem > 0x1000 || (rem == 0x1000 && (base & 1) == 1)) base + 1 else base
        sign | rounded
      } else if (e >= -25) {
        // subnormal half: value = m·2^(e−23) → multiple of 2^−24 means
        // shifting the 24-bit mantissa right by −(e+1)
        val m = (absBits & 0x7fffff) | 0x800000
        val sh = -e - 1
        val base = m >>> sh
        val rem = m & ((1 << sh) - 1)
        val half = 1 << (sh - 1)
        val rounded =
          if (rem > half || (rem == half && (base & 1) == 1)) base + 1 else base
        sign | rounded
      } else sign // underflow to zero
    // half → float
    val s2 = (halfBits & 0x8000) << 16
    val e2 = (halfBits >>> 10) & 0x1f
    val m2 = halfBits & 0x3ff
    val f2 =
      if (e2 == 0) {
        if (m2 == 0) java.lang.Float.intBitsToFloat(s2)
        else (if ((halfBits & 0x8000) != 0) -1f else 1f) * m2 * math.pow(2, -24).toFloat
      } else java.lang.Float.intBitsToFloat(s2 | ((e2 - 15 + 127) << 23) | (m2 << 13))
    f2
  }

  test("fp16 storage cast equals bit-level IEEE binary16 round-trip on random floats") {
    val gen = Gen.chooseNum(-60000.0f, 60000.0f)
    val tiny = Gen.chooseNum(-1e-4f, 1e-4f) // exercises the subnormal branch
    val values = (1 to 300).map(i => sample(gen, i)) ++
      (1 to 200).map(i => sample(tiny, 1000 + i)) ++
      Seq(0f, 1f, -1f, 0.1f, 6.1e-5f, -6.1e-5f, 5.96e-8f)
    val got = values.toDF("x")
      .select(fp16Storage(array(col("x"))).getItem(0))
      .collect().map(_.getDouble(0))
    values.zip(got).foreach { case (x, g) =>
      val want = fp16RoundTrip(x).toDouble
      assert(g == want, s"fp16($x): grid=$g bitLevel=$want")
    }
  }

  test("TopKAgg equals the window formulation on random candidate sets") {
    val gen = for {
      qid <- Gen.chooseNum(0L, 4L)
      nid <- Gen.chooseNum(0L, 60L)
      dist <- Gen.chooseNum(0, 50).map(_ / 10.0) // coarse grid forces ties
    } yield (qid, nid, dist)
    val rows = (1 to 600).map(i => sample(gen, i)).distinct
    val df = rows.toDF("qid", "nid", "dist")
    for (asc <- Seq(true, false); k <- Seq(1, 3, 10)) {
      val a = BruteForce.topK(df, k, asc)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
      val b = BruteForce.topKWindow(df, k, asc)
        .select(col("qid"), col("nid"), col("dist"), col("rnk").cast("int"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
      assert(a == b, s"asc=$asc k=$k")
    }
  }

  test("chunked knnFused equals declarative knn for any chunk count") {
    val vecGen = Gen.listOfN(8, Gen.chooseNum(-100, 100).map(_ / 100.0f)).map(_.toArray)
    val base = (0 until 40).map(i => (i.toLong, sample(vecGen, i))).toDF("id", "vec")
    val queries = (0 until 12).map(i => (i.toLong * 3, sample(vecGen, 500 + i))).toDF("qid", "qvec")
    for (m <- Seq(Metric.L2, Metric.IP, Metric.Cosine); chunkBytes <- Seq(1L, 1L << 30)) {
      // chunkBytes=1 → one chunk per query: exercises the multi-chunk union
      val fused = BruteForce.knnFused(queries, base, 5, m, roundDist = Some(4),
        chunkBytes = chunkBytes)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val plain = BruteForce.knn(queries, base, 5, m, roundDist = Some(4))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(fused == plain, s"metric=$m chunkBytes=$chunkBytes")
    }
  }

  test("pipeline ops are layout-independent: identical output under any repartitioning") {
    // the reproducibility claim behind content-hash keys: partition count
    // and row placement must never leak into results
    val docs = graft.sources.Tables.documents(spark, sf0001)
    def canon(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet
    for (parts <- Seq(1, 7)) {
      val re = docs.repartition(parts)
      assert(canon(graft.operators.Sampling.stratifiedQuota(re, "source", 5)) ==
        canon(graft.operators.Sampling.stratifiedQuota(docs, "source", 5)), s"quota parts=$parts")
      assert(canon(graft.operators.Dedup.decontaminate(re, col("doc_id") % 97 === 0)) ==
        canon(graft.operators.Dedup.decontaminate(docs, col("doc_id") % 97 === 0)),
        s"decontaminate parts=$parts")
      assert(canon(graft.operators.Dedup.dupShingleSpans(re)) ==
        canon(graft.operators.Dedup.dupShingleSpans(docs)), s"spans parts=$parts")
      assert(canon(graft.operators.Dedup.hashSplit(re)) ==
        canon(graft.operators.Dedup.hashSplit(docs)), s"split parts=$parts")
    }
  }

  test("serving loaders are layout-independent: identical answers under any repartitioning") {
    import graft.functions.VectorFunctions.signBits
    import graft.operators.{IvfIndex, Quantization, Serve}
    val rnd = new scala.util.Random(4242)
    val bdf = (0 until 300).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2f - 1f))).toDF("id", "vec")
    val cents = bdf.filter(col("id") % 50 === 0)
      .select(col("id").as("cluster_id"), col("vec").as("centroid"))
    val qs = (0 until 4).map(_ => Array.fill(16)(rnd.nextFloat() * 2f - 1f))
    // binary flat: the loader's orderBy pins the scan order regardless of
    // the input frame's physical layout
    val bbin = bdf.select(col("id"), signBits(col("vec")).as("vec"))
    val b1 = Serve.loadBinary(bbin, Metric.Hamming)
    val b2 = Serve.loadBinary(bbin.repartition(7), Metric.Hamming)
    qs.foreach { q0 =>
      val q = signBitsLocal(q0)
      assert(b1.search(q, 5) == b2.search(q, 5), "binary serving layout-dependent")
    }
    // coded IVF: groupBy + sort_array pins per-list order
    val index = IvfIndex.build(bdf, cents, Some(4))
    val st = Quantization.sq8Train(index.select(col("id"), col("vec")))
    val s1 = Serve.loadIvfSq8(index, cents, Some(st))
    val s2 = Serve.loadIvfSq8(index.repartition(5), cents, Some(st))
    qs.foreach { q =>
      assert(s1.search(q, 5, nprobe = 2, reorderK = 15) ==
        s2.search(q, 5, nprobe = 2, reorderK = 15), "sq8 serving layout-dependent")
    }
  }

  /** Driver-side sign-bit packing (32 dims/word, matching
    * VectorFunctions.signBits) for the layout property above. */
  private def signBitsLocal(v: Array[Float]): Array[Long] = {
    val words = (v.length + 31) / 32
    val out = new Array[Long](words)
    var i = 0
    while (i < v.length) {
      if (v(i) > 0) out(i / 32) |= (1L << (i % 32))
      i += 1
    }
    out
  }

  test("knnFused on a filtered-to-empty query side returns an empty frame like knn") {
    val vecGen = Gen.listOfN(8, Gen.chooseNum(-100, 100).map(_ / 100.0f)).map(_.toArray)
    val base = (0 until 10).map(i => (i.toLong, sample(vecGen, i))).toDF("id", "vec")
    val queries = (0 until 4).map(i => (i.toLong, sample(vecGen, 50 + i))).toDF("qid", "qvec")
      .filter(col("qid") < 0) // empty after filtering
    val fused = BruteForce.knnFused(queries, base, 3, Metric.L2)
    assert(fused.count() == 0)
    assert(fused.columns.toSeq == Seq("qid", "nid", "dist", "rnk"))
  }

  test("HLL merge is commutative, associative, idempotent on random splits") {
    import graft.plans.HllSketch
    val keys = sample(Gen.listOfN(3000, Gen.alphaNumStr.map(_.take(12))), 99L)
    def sk(xs: Seq[String]): HllSketch = {
      val s = new HllSketch
      xs.foreach(x => s.add(x.getBytes("UTF-8")))
      s
    }
    def regs(s: HllSketch) = s.registers.toSeq
    // any 3-way split, merged in any association order, equals one pass
    val (a, rest) = keys.splitAt(1000)
    val (b, c) = rest.splitAt(1000)
    val whole = sk(keys)
    val ab = sk(a); ab.merge(sk(b)); ab.merge(sk(c)) // (a+b)+c
    val bc = sk(b); bc.merge(sk(c))
    val a_bc = sk(a); a_bc.merge(bc) // a+(b+c)
    val ba = sk(b); ba.merge(sk(a)); ba.merge(sk(c)) // (b+a)+c
    assert(regs(ab) == regs(whole) && regs(a_bc) == regs(whole) && regs(ba) == regs(whole))
    // idempotent: re-merging a duplicate shard changes nothing
    ab.merge(sk(a))
    assert(regs(ab) == regs(whole))
    assert(ab.estimate == whole.estimate)
  }

  test("histogram merge is commutative/associative; totals always conserved") {
    import graft.plans.HistogramBuffer
    val vals = sample(Gen.listOfN(2000, Gen.chooseNum(0, 800000).map(_ / 1000.0)), 7L)
    def hb(xs: Seq[Double]): HistogramBuffer = {
      val h = new HistogramBuffer
      xs.foreach(h.add)
      h
    }
    val (a, b) = vals.splitAt(700)
    val whole = hb(vals)
    val ab = hb(a); ab.merge(hb(b))
    val ba = hb(b); ba.merge(hb(a))
    assert(ab.counts.toSeq == whole.counts.toSeq && ba.counts.toSeq == whole.counts.toSeq)
    assert(ab.total == vals.size)
    val t = whole.total
    // read-off is monotone in p and within the domain
    val qs = Seq(1, 50, 95, 99).map(p => whole.quantile(p, t))
    assert(qs == qs.sorted && qs.forall(q => q >= 0.0 && q <= 8191 / 8.0))
  }

  test("winnowing guarantee: a planted n+w-1 token run always shares a fingerprint") {
    // the MOSS theorem (n=3, w=4): any two docs sharing a run of >= 6
    // tokens share at least one selected window-min fingerprint —
    // property-checked over random vocab draws with a planted common run
    val word = Gen.oneOf("aa bb cc dd ee ff gg hh ii jj kk ll".split(" ").toSeq)
    def text(seed: Long, len: Int): Seq[String] =
      (0 until len).map(i => sample(word, seed * 1000 + i))
    for (trial <- 1 to 8) {
      val run = text(trial * 7919L, 6).mkString(" ")
      val pre = text(trial * 104729L, sample(Gen.choose(0, 8), trial * 13L))
      val post = text(trial * 1299709L, sample(Gen.choose(0, 8), trial * 17L))
      val docs = Seq(
        (1L, (pre :+ run).mkString(" ").trim),
        (2L, (run +: post).mkString(" ").trim)
      ).toDF("doc_id", "text")
      val fps = graft.operators.TextAnalysis.winnowingFingerprints(docs)
      val a = fps.filter(col("doc_id") === 1L).select("fp").collect().map(_.getLong(0)).toSet
      val b = fps.filter(col("doc_id") === 2L).select("fp").collect().map(_.getLong(0)).toSet
      assert(a.intersect(b).nonEmpty, s"trial $trial: planted run '$run' shared no fingerprint")
    }
  }

  test("sector store: fetch equals the source for any scattered id set, absent ids skipped, reads bounded") {
    import graft.sources.SectorStore
    for (trial <- 1 to 3) {
      val rnd = new scala.util.Random(trial * 9176L + 3)
      val dim = Seq(4, 17, 64)(trial % 3)
      val n = 300 + trial * 137
      // NON-CONTIGUOUS ids (gaps + random stride) — the fence lookup must
      // not assume density, and ids between fences must come back absent
      val rows = (0 until n).map { i =>
        (i.toLong * 7L + rnd.nextInt(5), Array.fill(dim)(rnd.nextFloat() * 4f - 2f))
      }.distinctBy(_._1)
      val df = spark.createDataFrame(rows).toDF("id", "vec")
        .repartition(1 + trial) // arbitrary input layout; save re-sorts
      val dir = graft.queries.StreamStage.dir(s"graft-sectors-prop$trial").toString
      SectorStore.save(df, dir, rowsPerGroup = 32)
      val reader = SectorStore.openIfValid(spark, dir).getOrElse(
        fail(s"trial $trial: sector store failed the sorted-fence invariant"))
      val tier = new graft.operators.Serve.PagedRawTier(reader)
      assert(tier.totalRows == rows.length.toLong)
      val byId = rows.toMap
      // scattered wanted set: present ids + guaranteed-absent ids
      val present = rnd.shuffle(rows.map(_._1)).take(40)
      val absent = Seq(-5L, rows.map(_._1).max + 100L, 3L).filterNot(byId.contains)
      val got = tier.fetch(present ++ absent)
      assert(got.size == present.distinct.size, s"trial $trial: wrong row count")
      present.foreach { id =>
        assert(Option(got.get(id)).exists(_.sameElements(byId(id))),
          s"trial $trial: vector mismatch for id $id")
      }
      assert(tier.lastFetched == present.distinct.size.toLong)
      assert(tier.lastSectorsRead <= tier.lastRequested,
        s"trial $trial: ${tier.lastSectorsRead} sectors for ${tier.lastRequested} ids")
      assert(tier.lastRowsScanned < tier.totalRows,
        s"trial $trial: scanned the whole store")
      reader.close()
    }

    // hostile inputs: rejected at save with the offending id named
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType), StructField("vec", ArrayType(FloatType))))
    def frame(rows: Seq[Row]) = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    def stored(rows: Seq[Row]): graft.operators.Serve.PagedRawTier = {
      val dir = graft.queries.StreamStage.dir("graft-sectors-edge").toString
      SectorStore.save(frame(rows), dir, rowsPerGroup = 2)
      new graft.operators.Serve.PagedRawTier(SectorStore.openIfValid(spark, dir).getOrElse(
        fail(s"${rows.length}-row store failed to open")))
    }
    Seq(
      ("mixed dimension", Seq(Row(1L, Seq(1f, 2f)), Row(2L, Seq(1f))), "id 2"),
      ("null id", Seq(Row(1L, Seq(1f)), Row(null, Seq(2f))), "null id"),
      ("null vector", Seq(Row(1L, Seq(1f)), Row(7L, null)), "id 7"),
      ("duplicate id", Seq(Row(3L, Seq(1f)), Row(3L, Seq(2f))), "id 3")
    ).foreach { case (what, rows, named) =>
      val dir = graft.queries.StreamStage.dir("graft-sectors-bad").toString
      val e = intercept[IllegalArgumentException](SectorStore.save(frame(rows), dir))
      assert(e.getMessage.contains(named), s"$what: ${e.getMessage}")
    }
    // NaN (with a payload), ±Inf and −0.0 come back as the same raw bits
    val odd = Seq(Float.NaN, java.lang.Float.intBitsToFloat(0x7fc01234), Float.PositiveInfinity,
      Float.NegativeInfinity, -0.0f, 0.0f, Float.MinPositiveValue)
    val special = (0 until 5).map(i => (i.toLong * 2L, Seq.tabulate(3)(j => odd((i + j) % odd.length))))
    val st = stored(special.map { case (id, v) => Row(id, v) })
    val back = st.fetch(special.map(_._1) :+ 1L)
    special.foreach { case (id, v) =>
      assert(back.get(id).toSeq.map(java.lang.Float.floatToRawIntBits) ==
        v.map(java.lang.Float.floatToRawIntBits), s"id $id did not round-trip bit-exact")
    }
    assert(back.size == special.length && st.lastFetched == special.length.toLong)
    // empty and one-row frames give stores that open; absent ids read nothing
    val empty = stored(Seq.empty)
    assert(empty.totalRows == 0L && empty.fetch(Seq(1L)).isEmpty && empty.lastSectorsRead == 0L)
    val one = stored(Seq(Row(5L, Seq(0.5f, -1f))))
    assert(one.fetch(Seq(5L, 5L, 6L)).get(5L).toSeq == Seq(0.5f, -1f) && one.lastRequested == 2L)
    assert(one.fetch(Seq(6L, -1L)).isEmpty && one.lastSectorsRead == 0L)
  }

  test("sector store: concurrent fetches through one paged tier equal single-thread fetches") {
    import graft.sources.SectorStore
    import scala.jdk.CollectionConverters._
    val rnd = new scala.util.Random(4242L)
    val rows = (0 until 2000).map(i => (i.toLong * 3L + rnd.nextInt(3), Array.fill(16)(rnd.nextFloat())))
    val dir = graft.queries.StreamStage.dir("graft-sectors-conc").toString
    SectorStore.save(spark.createDataFrame(rows).toDF("id", "vec"), dir, rowsPerGroup = 8)
    val tier = new graft.operators.Serve.PagedRawTier(
      SectorStore.openIfValid(spark, dir).getOrElse(fail("store failed to open")))
    val ids = rows.map(_._1).toArray
    // seeded requests: scattered present ids, repeats and absent ids
    def request(seed: Long): Seq[Long] = {
      val r = new scala.util.Random(seed)
      Seq.fill(1 + r.nextInt(60))(if (r.nextInt(8) == 0) -1L - r.nextInt(50) else ids(r.nextInt(ids.length)))
    }
    def run(t: Int): Seq[Map[Long, Seq[Float]]] = (0 until 50).map { j =>
      tier.fetch(request(t * 1000L + j)).asScala.map { case (id, v) => id -> v.toSeq }.toMap
    }
    val single = (0 until 4).map(run)
    assert(single.flatten.exists(_.nonEmpty))
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      // answers only: the tier's last* fields are last-writer-wins
      val futs = (0 until 4).map { t =>
        pool.submit(new java.util.concurrent.Callable[Seq[Map[Long, Seq[Float]]]] {
          def call(): Seq[Map[Long, Seq[Float]]] = { start.await(); run(t) }
        })
      }
      start.countDown()
      futs.zipWithIndex.foreach { case (f, t) => assert(f.get() == single(t), s"thread $t diverged") }
    } finally pool.shutdownNow()
  }
}
