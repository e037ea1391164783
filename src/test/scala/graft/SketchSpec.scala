package graft

import org.apache.spark.sql.functions._

import graft.functions.Sketches

/** The sketch contract (functions/Sketches.scala): lossless below
  * capacity (the oracle regime — CORRECTNESS covers it), spec-bound error
  * above it, and merge results independent of partition layout. */
class SketchSpec extends SparkTestBase {

  private val k = 1024

  private def kmvAgg = udaf(Sketches.KmvSketch(k))

  test("kmv: lossless below k and partition-layout invariant") {
    // 700 distinct keys (< k) over 21,000 rows; the sketch must hold all
    // 700 hashes and report the exact count under any partitioning.
    val base = spark.range(21000).select((col("id") % 700).as("key"))
    val est = Seq(1, 13).map { p =>
      base.repartition(p)
        .select(xxhash64(col("key")).as("h"))
        .agg(kmvAgg(col("h")).as("sk"))
        .select(Sketches.kmvNdv(col("sk"), k), size(col("sk")))
        .collect()(0)
    }
    est.foreach { r =>
      assert(r.getDouble(0) == 700.0, s"sub-k estimate must be exact, got $r")
      assert(r.getInt(1) == 700)
    }
  }

  test("kmv: boxed variant skips nulls per value — filtered-input parity") {
    // KmvSketchOpt(null-skipping boxed input) over a column with nulls
    // must equal KmvSketch over the pre-filtered column: per-COLUMN null
    // exclusion inside one shared pass (q63's one-scan profiler contract).
    val optAgg = udaf(Sketches.KmvSketchOpt(k))
    val base = spark.range(9000)
      .select(when(col("id") % 3 =!= 0, col("id") % 500).as("key"))
    val viaOpt = base
      .select(when(col("key").isNotNull, xxhash64(col("key"))).as("h"))
      .agg(optAgg(col("h")).as("sk"))
      .select(Sketches.kmvNdv(col("sk"), k)).collect()(0).getDouble(0)
    val viaFiltered = base.filter(col("key").isNotNull)
      .select(xxhash64(col("key")).as("h"))
      .agg(kmvAgg(col("h")).as("sk"))
      .select(Sketches.kmvNdv(col("sk"), k)).collect()(0).getDouble(0)
    assert(viaOpt == viaFiltered)
    // exact in the sub-k regime: ids with id % 3 != 0 cover all 500 residues
    assert(viaOpt == 500.0)
  }

  test("kmv: saturated estimate within 5 sigma of the true cardinality") {
    val n = 200000L
    val truth = n.toDouble
    val est = spark.range(n)
      .select(xxhash64(col("id")).as("h"))
      .agg(kmvAgg(col("h")).as("sk"))
      .select(Sketches.kmvNdv(col("sk"), k))
      .collect()(0).getDouble(0)
    // sigma ~= ndv/sqrt(k-2) ~= 3.1% at k=1024; 5 sigma ~= 16%.
    val relErr = math.abs(est - truth) / truth
    assert(relErr < 0.16, s"kmv estimate $est vs $truth (relErr $relErr)")
  }

  test("kmv: union and intersection estimates from composed sketches") {
    // A = [0, 120k), B = [60k, 180k): union 180k, intersection 60k.
    val a = spark.range(0, 120000).select(xxhash64(col("id")).as("h"))
      .agg(kmvAgg(col("h")).as("sk_a"))
    val b = spark.range(60000, 180000).select(xxhash64(col("id")).as("h"))
      .agg(kmvAgg(col("h")).as("sk_b"))
    val r = a.crossJoin(b).select(
      Sketches.kmvUnionNdv(col("sk_a"), col("sk_b"), k).as("u"),
      Sketches.kmvIntersectNdv(col("sk_a"), col("sk_b"), k).as("i"))
      .collect()(0)
    val (u, i) = (r.getDouble(0), r.getDouble(1))
    assert(math.abs(u - 180000) / 180000.0 < 0.16, s"union est $u")
    // Intersection stacks the union estimator's error with the binomial
    // error of the bottom-k overlap fraction — allow a wider band.
    assert(math.abs(i - 60000) / 60000.0 < 0.25, s"intersection est $i")
  }

  test("kmv: fused kmvPairStats == the composed column expressions, bit-for-bit") {
    // The r16 fused pair kernel (one two-pointer merge) must reproduce the
    // kmvNdv/kmvUnionNdv/kmvIntersectNdv composition EXACTLY — d16_scale
    // and q58 are hash-oracled, so a single ulp of drift flips a gate.
    // Cover saturated (both > k), unsaturated, disjoint, identical, and
    // empty sketches.
    val corp = Seq(
      ("sat_a", 0L, 120000L), ("sat_b", 60000L, 180000L),
      ("small_a", 0L, 500L), ("small_b", 200L, 900L),
      ("disj", 1000000L, 1000100L), ("dup_a", 0L, 120000L),
      ("empty", 0L, 0L))
    val sk = corp.map { case (n, lo, hi) =>
      spark.range(lo, hi).select(xxhash64(col("id")).as("h"))
        .agg(kmvAgg(col("h")).as("sk")).select(lit(n).as("src"), col("sk"))
    }.reduce(_ unionAll _).localCheckpoint(true)
    val pairs = sk.toDF("src_a", "sk_a")
      .join(sk.toDF("src_b", "sk_b"), col("src_a") < col("src_b"))
    val composed = pairs.select(col("src_a"), col("src_b"),
      Sketches.kmvNdv(col("sk_a"), k).as("na"),
      Sketches.kmvNdv(col("sk_b"), k).as("nb"),
      Sketches.kmvUnionNdv(col("sk_a"), col("sk_b"), k).as("u"),
      Sketches.kmvIntersectNdv(col("sk_a"), col("sk_b"), k).as("i"))
      .orderBy(col("src_a"), col("src_b")).collect()
    val fused = pairs.select(col("src_a"), col("src_b"),
      Sketches.kmvPairStats(col("sk_a"), col("sk_b"), k).as("st"))
      .select(col("src_a"), col("src_b"), col("st.n_a_est"), col("st.n_b_est"),
        col("st.union_ndv"), col("st.inter_ndv"))
      .orderBy(col("src_a"), col("src_b")).collect()
    assert(composed.length == fused.length && composed.length == 21)
    composed.zip(fused).foreach { case (c, f) =>
      assert(c.getString(0) == f.getString(0) && c.getString(1) == f.getString(1))
      (2 to 5).foreach { ix =>
        assert(java.lang.Double.doubleToRawLongBits(c.getDouble(ix)) ==
          java.lang.Double.doubleToRawLongBits(f.getDouble(ix)),
          s"${c.getString(0)}x${c.getString(1)} col $ix: ${c.getDouble(ix)} != ${f.getDouble(ix)}")
      }
    }
  }

  test("kmv: q57/q58 run in the lossless regime at test SF") {
    // The oracle contract: at verify/test SF the sketches must be below
    // saturation so the exact SQL is a valid oracle. Pin the headroom.
    val kk = spark.conf.get("spark.graft.sketch.k", "16384").toInt
    val maxDistinct = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("c"))
      .agg(max(col("c"))).collect()(0).getLong(0)
    assert(maxDistinct < kk, s"q57 would saturate: $maxDistinct >= $kk")
  }

  test("kmv: q63's profiled columns stay in the lossless regime at the driver's verify SF") {
    // q63's oracle is exact count(distinct) per column, valid only while
    // every profiled column's NDV sits below k AT THE DRIVER'S VERIFY SF
    // (sf0.01 — the binding gate, unlike q57's per-group test-SF pin).
    // On a testdata regen that inflates a domain past capacity, THIS spec
    // is the failure you want to see, not the hash gate.
    val kk = spark.conf.get("spark.graft.sketch.k", "16384").toInt
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_discount", "l_tax", "l_shipdate",
      "l_returnflag", "l_linestatus")
    val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    val row = li.agg(countDistinct(col(cols.head)),
      cols.tail.map(c => countDistinct(col(c))): _*).collect()(0)
    cols.zipWithIndex.foreach { case (c, i) =>
      assert(row.getLong(i) < kk,
        s"q63 profile column $c would saturate at verify SF: ${row.getLong(i)} >= $kk")
    }
  }

  private val cap = 256

  private def hhAgg = udaf(Sketches.SpaceSavingTopK(cap))

  test("topk_freq: exact below cap and partition-layout invariant") {
    // 200 distinct keys (< cap) with frequency = key+1 — no eviction can
    // occur, so counts are exact, err = 0, order (cnt desc, key asc).
    val base = spark.range(200).select(col("id").as("key"))
      .select(explode(sequence(lit(1), col("key") + 1)).as("rep"), col("key"))
    val results = Seq(1, 13).map { p =>
      base.repartition(p)
        .agg(hhAgg(col("key")).as("hh"))
        .select(explode(col("hh")).as("e"))
        .select(col("e.key"), col("e.cnt"), col("e.err"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    }
    assert(results(0) == results(1), "summary must not depend on partitioning")
    assert(results(0).size == 200)
    assert(results(0).forall { case (key, cnt, err) => cnt == key + 1 && err == 0 })
    // sorted by cnt desc => key 199 first
    assert(results(0).head._1 == 199L)
  }

  test("topk_freq: Misra-Gries guarantee in the evicting regime") {
    // Key 777777 takes 3,000 of 43,000 rows (share ~7% >> 1/cap); the other
    // 40,000 rows spread over 8,000 distinct keys. The heavy key must
    // survive with cnt in [true - err, true] and err <= n/cap.
    val heavy = spark.range(3000).select(lit(777777L).as("key"))
    val tail = spark.range(40000).select((col("id") % 8000).as("key"))
    val n = 43000L
    val rows = heavy.union(tail).repartition(7)
      .agg(hhAgg(col("key")).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.key"), col("e.cnt"), col("e.err"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val hit = rows.find(_._1 == 777777L)
    assert(hit.isDefined, s"heavy key evicted; kept ${rows.length} entries")
    val (_, cnt, err) = hit.get
    assert(cnt <= 3000L, s"MG counts must underestimate, got $cnt")
    assert(cnt + err >= 3000L, s"true count must sit within [cnt, cnt+err]: $cnt + $err")
    assert(err <= n / cap + 1, s"deduction bound blown: $err > ${n / cap}")
    assert(rows.length <= cap, s"summary must hold <= cap entries, got ${rows.length}")
  }

  test("t8_scale/d16_scale: both text twins run in the lossless regime at test SF") {
    // Same contract as the q57 pin: the exact SQL is only a valid oracle
    // while the summaries are below capacity — pin the headroom so a
    // testdata regen that inflates the vocabulary fails loudly here, not
    // silently in a hash mismatch.
    val ngramCap = spark.conf.get("spark.graft.sketch.ngramCap", "32768").toInt
    val nDistinct = {
      import spark.implicits._
      Tables.parallelized(Tables.validDocuments(spark, sf))
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .flatMap { case (_, t) => graft.queries.Dedup.shinglesOf(t) }
        .distinct().count()
    }
    assert(nDistinct < ngramCap, s"t8_scale would evict: $nDistinct >= $ngramCap")
    val kk = spark.conf.get("spark.graft.sketch.k", "16384").toInt
    val maxPerSource = {
      import spark.implicits._
      Tables.parallelized(Tables.validDocuments(spark, sf))
        .select(col("source"), col("text")).as[(String, String)]
        .flatMap { case (s, t) => graft.queries.Dedup.shinglesOf(t).map((s, _)) }
        .distinct().groupBy("_1").count()
        .agg(max(col("count"))).collect()(0).getLong(0)
    }
    assert(maxPerSource < kk, s"d16_scale would saturate: $maxPerSource >= $kk")
  }

  test("topk_freq: q59 runs in the exact regime at test SF") {
    val capConf = spark.conf.get("spark.graft.sketch.topkCap", "4096").toInt
    val maxDistinct = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("c"))
      .agg(max(col("c"))).collect()(0).getLong(0)
    assert(maxDistinct <= capConf, s"q59 would evict: $maxDistinct > $capConf")
  }

  private val pcap = 512

  private def pctAgg = udaf(Sketches.PctSketch(pcap))

  test("pct_sketch: lossless below cap — bit-identical to the builtin percentile") {
    // 400 values (< pcap) with duplicates and a fractional interpolation
    // position; below capacity the summary is the full multiset, so the
    // estimate must equal Spark's exact `percentile` DOUBLE-for-DOUBLE
    // under any partition layout.
    val base = spark.range(400).select((col("id") % 37 * 13 % 101).cast("double").as("v"))
    val exact = base.agg(
      expr("percentile(v, 0.25)"), expr("percentile(v, 0.5)"), expr("percentile(v, 0.9)"))
      .collect()(0)
    Seq(1, 13).foreach { p =>
      val est = base.repartition(p).agg(pctAgg(col("v")).as("sk"))
        .select(Sketches.pctCol(col("sk"), 0.25), Sketches.pctCol(col("sk"), 0.5),
          Sketches.pctCol(col("sk"), 0.9))
        .collect()(0)
      (0 until 3).foreach { i =>
        assert(est.getDouble(i) == exact.getDouble(i),
          s"p=$p q#$i: ${est.getDouble(i)} != exact ${exact.getDouble(i)}")
      }
    }
  }

  test("pct_sketch: continuous (non-integral) domain stays exact below cap") {
    // The regime q7_scale cannot serve: arbitrary doubles. Below cap the
    // sketch is still the full multiset, so exactness is domain-free.
    val base = spark.range(300)
      .select((sin(col("id").cast("double")) * 1e6).as("v"))
    val exact = base.agg(expr("percentile(v, 0.75)")).collect()(0).getDouble(0)
    val est = base.repartition(7).agg(pctAgg(col("v")).as("sk"))
      .select(Sketches.pctCol(col("sk"), 0.75)).collect()(0).getDouble(0)
    assert(est == exact, s"$est != $exact")
  }

  test("pct_sketch: saturated rank error within bound, weight conserved") {
    // 1M uniform values at cap 512 — ~2000× saturation, ~11 compactor
    // levels. For uniform data value error ≈ rank error; the analytic
    // envelope ε ≈ 1.5·log₂(n/cap)/cap ≈ 3.2% — assert 4%. Total weight
    // must equal n exactly (compactions are weight-preserving by
    // construction), which is what anchors rank positions at ANY size.
    val n = 1000000L
    val base = spark.range(n).select(col("id").cast("double").as("v"))
    Seq(base, base.repartition(13)).foreach { df =>
      val r = df.agg(pctAgg(col("v")).as("sk"))
        .select(Sketches.pctCol(col("sk"), 0.1).as("p10"),
          Sketches.pctCol(col("sk"), 0.5).as("p50"),
          Sketches.pctCol(col("sk"), 0.9).as("p90"),
          aggregate(col("sk.ws"), lit(0L), (acc, w) => acc + w).as("w"))
        .collect()(0)
      assert(r.getLong(3) == n, s"weight not conserved: ${r.getLong(3)} != $n")
      Seq(0.1, 0.5, 0.9).zipWithIndex.foreach { case (q, i) =>
        val relErr = math.abs(r.getDouble(i) - q * n) / n
        assert(relErr < 0.04, s"q=$q est=${r.getDouble(i)} relErr=$relErr")
      }
    }
  }

  test("pct_sketch_w: weighted quantile equals percentile over replicated rows") {
    // The weighted aggregate must produce EXACTLY what the unweighted
    // builtin produces over the materialized repeats — without ever
    // building them. 500 rows, weights 1..7, below cap: lossless.
    val base = spark.range(500).select(
      (col("id") % 97).cast("double").as("v"), (col("id") % 7 + 1).as("w"))
    val exact = base
      .select(col("v"), explode(sequence(lit(1), col("w"))))
      .agg(expr("percentile(v, 0.5)"), expr("percentile(v, 0.9)"))
      .collect()(0)
    val est = base.repartition(11)
      .agg(udaf(Sketches.PctSketchWeighted(4096)).apply(col("v"), col("w")).as("sk"))
      .select(Sketches.pctCol(col("sk"), 0.5), Sketches.pctCol(col("sk"), 0.9))
      .collect()(0)
    assert(est.getDouble(0) == exact.getDouble(0), s"$est vs $exact")
    assert(est.getDouble(1) == exact.getDouble(1), s"$est vs $exact")
  }

  test("pct_sketch_w: saturated weighted regime conserves total weight") {
    // 200k rows at cap 512 with weights 1..15 — far past capacity. The
    // summary's total weight must equal sigma(w) exactly and the median of
    // uniform values (weights independent of v) must hold the KLL band.
    val base = spark.range(200000).select(
      col("id").cast("double").as("v"), (col("id") % 15 + 1).as("w"))
    val wTot = 200000L / 15 * (1 to 15).sum + (1 to (200000 % 15).toInt).sum
    val r = base.repartition(13)
      .agg(udaf(Sketches.PctSketchWeighted(pcap)).apply(col("v"), col("w")).as("sk"))
      .select(Sketches.pctCol(col("sk"), 0.5).as("p50"),
        aggregate(col("sk.ws"), lit(0L), (acc, x) => acc + x).as("wsum"))
      .collect()(0)
    assert(r.getLong(1) == wTot, s"weight not conserved: ${r.getLong(1)} != $wTot")
    val relErr = math.abs(r.getDouble(0) - 100000.0) / 200000.0
    assert(relErr < 0.04, s"weighted p50 ${r.getDouble(0)} relErr=$relErr")
  }

  test("pct_sketch: nulls ignored per value, all-null groups emit null — builtin parity") {
    // Group "a" has values with interleaved nulls, group "b" is all-null.
    // The aggregate must reproduce the builtin EXACTLY: null values stay
    // out of the ranks, but both groups emit a row ("b" with null) — the
    // semantics a query-layer joint filter would silently break.
    val df = spark.range(100).select(
      when(col("id") % 2 === 0, lit("a")).otherwise(lit("b")).as("g"),
      when(col("id") % 2 === 0 && col("id") % 10 =!= 0, col("id").cast("double")).as("v"))
    val exact = df.groupBy("g").agg(expr("percentile(v, 0.5)").as("p"))
      .orderBy("g").collect().map(r => (r.getString(0), Option(r.get(1)))).toSeq
    val est = df.groupBy("g").agg(pctAgg(col("v")).as("sk"))
      .select(col("g"), Sketches.pctCol(col("sk"), 0.5).as("p"))
      .orderBy("g").collect().map(r => (r.getString(0), Option(r.get(1)))).toSeq
    assert(est == exact, s"null semantics diverged: $est vs $exact")
  }

  test("pct_sketch: q60/q61 run in the lossless regime at test SF") {
    // The oracle contract: the exact SQL is only a valid oracle for
    // q60/q61 while every group is below pctCap ROWS (raw count, not
    // distinct — quantiles weight duplicates; q61's weighted pieces add
    // at most one entry per level per ROW, so the same row bound covers
    // it at any weight magnitude). Pin the headroom.
    val capConf = spark.conf.get("spark.graft.sketch.pctCap", "65536").toInt
    val maxRows = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag")).count()
      .agg(max(col("count"))).collect()(0).getLong(0)
    assert(maxRows < capConf, s"q60 would compact: $maxRows >= $capConf")
  }
}
