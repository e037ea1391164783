package graft

import org.apache.spark.sql.functions._

class DedupSpec extends SparkTestBase {

  test("d3 minhash+LSH finds exactly the exact-Jaccard ≥ 0.9 pairs") {
    // On the fixed testdata the LSH candidate set must cover every true
    // near-dup pair (this is what licenses the exact-SQL oracle for d3).
    val lsh = graft.queries.Dedup.queries("d3_dedup_minhash")(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = graft.queries.Dedup.queries("d5_ngram_jaccard")(spark, sf)
      .filter(col("jaccard") >= 0.9)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact, s"LSH pairs $lsh != exact pairs $exact")
  }

  test("d4_oracled equals brute-force md5-SimHash Hamming ≤ 3 (pigeonhole recall 1.0)") {
    // Independent double-entry: recompute the md5-bit signatures here
    // (nibble-order bit layout, the d4_oracled contract) and scan ALL
    // pairs O(n²); the banded query must return exactly the Hamming ≤ 3
    // set — 4×16-bit chunking is exact for radius 3 by pigeonhole.
    val docs = Tables.validDocuments(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val md = java.security.MessageDigest.getInstance("MD5")
    def sig(text: String): Long = {
      val counts = new Array[Int](64)
      graft.queries.Dedup.shinglesOf(text).foreach { sh =>
        val dig = md.digest(sh.getBytes("UTF-8"))
        for (j <- 0 until 16; t <- 0 until 4) {
          val b = dig(j >> 1) & 0xff
          val v = if ((j & 1) == 0) b >>> 4 else b & 0xf
          if (((v >>> t) & 1) == 1) counts(4 * j + t) += 1 else counts(4 * j + t) -= 1
        }
      }
      (0 until 64).foldLeft(0L)((acc, k) => if (counts(k) > 0) acc | (1L << k) else acc)
    }
    val sigs = docs.map { case (id, t) => (id, sig(t)) }
    val expected = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      if java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (a, b, java.lang.Long.bitCount(sa ^ sb))).toSet
    val got = graft.queries.Dedup.queries("d4_oracled")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(expected.nonEmpty, "spec corpus must contain at least one near-dup pair")
    assert(got == expected, s"banded pairs $got != brute-force pairs $expected")
  }

  // The rows-only dedup outputs (their buckets are hash-defined, so no
  // oracle hashes them), pinned to the bit at sf0.001: row count and the
  // md5 of the sorted rows, each double rendered as its raw bits.
  private val RowPins = Seq(
    "d4_dedup_simhash" -> (17L, "37ae9c4c51597cf54185e746f2370f7f"),
    "d7_embedding_neardup_lsh" -> (75L, "57f8bc72d9054688cfd385bdf4dcadc3"),
    "bandRows" -> (4000L, "d8f1c456d0d4113642c0e5a3529fe078"))

  test("rows-only dedup outputs match their pinned row count and md5") {
    def render(v: Any): String = v match {
      case x: Double => java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(x))
      case x => String.valueOf(x)
    }
    val got = RowPins.map { case (name, _) =>
      val df =
        if (name == "bandRows") graft.queries.Dedup.bandRows(spark, sf)
        else graft.queries.Dedup.queries(name)(spark, sf)
      val rows = df.collect().map(_.toSeq.map(render).mkString("|")).sorted
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(rows.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString
      name -> (rows.length.toLong, md5)
    }
    assert(got == RowPins, got.mkString("\n"))
  }

  test("d1 exact dedup partitions the corpus") {
    val total = Tables.documents(spark, sf).count()
    val sum = graft.queries.Dedup.queries("d1_dedup_exact")(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("n_copies")).collect()(0).getLong(0)
    assert(sum == total)
  }

  test("d7 LSH near-dup is a subset of exact d6 with usable recall") {
    val exact = graft.queries.Dedup.queries("d6_embedding_neardup")(spark, sf)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = graft.queries.Dedup.queries("d7_embedding_neardup_lsh")(spark, sf)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "exact verification must keep precision at 1.0")
    val recall = if (exact.isEmpty) 1.0 else lsh.size.toDouble / exact.size
    assert(recall >= 0.7, s"d7 recall $recall below 0.7 (|exact|=${exact.size})")
  }

  test("d7_exhaustive (1x0 geometry) reproduces exact d6 bit-for-bit") {
    // The degenerate geometry puts each label in one bucket, so the kernel
    // must emit d6's rows verbatim — this is the hash contract the driver
    // oracle certifies; here it's pinned structurally (same rows, same
    // cosines) so a kernel refactor can't silently change the pair path.
    val exact = graft.queries.Dedup.queries("d6_embedding_neardup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val twin = graft.queries.Dedup.queries("d7_exhaustive")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(twin == exact, s"d7_exhaustive (${twin.size}) != d6 (${exact.size})")
    assert(exact.nonEmpty, "spec corpus must exercise the pair path")
  }

  test("d6 block-size guard fails fast when a label block exceeds the bound") {
    // At sf0.001 every label block is far larger than 3, so the guard must
    // fire; with the default bound the query runs to completion.
    spark.conf.set("graft.dedup.maxExactBlock", "3")
    try {
      val ex = intercept[Exception] {
        graft.queries.Dedup.queries("d6_embedding_neardup")(spark, sf).count()
      }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
      assert(messages(ex).exists(_.contains("d7_embedding_neardup_lsh")),
        s"guard error must route to d7, got: ${messages(ex)}")
    } finally spark.conf.unset("graft.dedup.maxExactBlock")
    assert(graft.queries.Dedup.queries("d6_embedding_neardup")(spark, sf).count() > 0)
  }

  test("d7 candidate-volume guard fails fast when the bucket estimate exceeds the cap") {
    // The fixed 4-bit tables stop pruning as density grows (BENCHNOTES
    // r10) — the guard must name the cap and the d6 fallback BEFORE pair
    // expansion. At sf0.001 the exact Σ bn(bn−1)/2 estimate is well above
    // 10; with the default cap the query runs to completion.
    spark.conf.set("graft.dedup.d7MaxCandidates", "10")
    try {
      val ex = intercept[Exception] {
        graft.queries.Dedup.queries("d7_embedding_neardup_lsh")(spark, sf).count()
      }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
      assert(messages(ex).exists(m =>
        m.contains("d7MaxCandidates") && m.contains("d6_embedding_neardup")),
        s"guard error must name the cap and the d6 fallback, got: ${messages(ex)}")
    } finally spark.conf.unset("graft.dedup.d7MaxCandidates")
    assert(graft.queries.Dedup.queries("d7_embedding_neardup_lsh")(spark, sf).count() > 0)
  }

  test("d7 geometry derives from the threshold; defaults reproduce the r10 shape") {
    import graft.queries.Dedup
    // The d7 query's geometry (θ=0.3, 16 tables, target 0.85) must reproduce
    // r10's fixed 4-bit geometry bit-for-bit — same bits, and the plane
    // pool's first 64 rows are the r10 planes (same seed, same fill order).
    assert(Dedup.d7Geometry(0.3, 16, 0.85) == 4, "default geometry drifted from r10's 4 bits")
    // The documented production high-density config: tight threshold earns
    // 8-bit tables (16× fewer random collisions) at a ≥0.9 recall floor.
    assert(Dedup.d7Geometry(0.8, 16, 0.9) == 8, "θ=0.8 production config must derive 8 bits")
    // Monotone: a tighter threshold never loses selectivity.
    val ks = Seq(0.1, 0.3, 0.5, 0.8, 0.95).map(t => Dedup.d7Geometry(t, 16, 0.9))
    assert(ks == ks.sorted, s"bits must be monotone in threshold: $ks")
    // Degenerate floor: an unreachable recall target still yields a legal
    // 1-bit geometry rather than an empty slice.
    assert(Dedup.d7Geometry(0.01, 2, 0.9999) == 1)
  }

  test("d7 production config (θ=0.8 → 8-bit tables) recall ≥ 0.9, precision 1.0 on planted clusters") {
    // The driver corpus has no pairs above cosine 0.51 (its near-dup regime
    // is the loose θ=0.3 one), so the tight-threshold production geometry
    // is pinned on a planted corpus: 40 clusters × 8 members around random
    // unit anchors, per-member noise swept so within-cluster cosines
    // straddle the 0.8 threshold (the hardest pairs sit just above it) and
    // cross-cluster cosines stay near 0 in 64-dim. The pinned path IS the
    // production path: Dedup.signLshPairs, the same kernel the d7 query
    // calls, at the conf-derived (8 bits, 16 tables).
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    def gauss(n: Int): Array[Double] = Array.fill(n)(rnd.nextGaussian())
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val vecs = (0 until 40).flatMap { c =>
      val anchor = normalize(gauss(64))
      (0 until 8).map { m =>
        val sigma = 0.03 + 0.005 * m // cos to anchor ≈ 1/√(1+64σ²): ~0.97…0.80
        val noise = gauss(64)
        val v = normalize(anchor.zipWithIndex.map { case (a, i) => a + sigma * noise(i) })
        (c * 8L + m, c, v.map(_.toFloat))
      }
    }
    val exact = (for {
      a <- vecs; b <- vecs
      if a._2 == b._2 && a._1 < b._1
      cos = a._3.zip(b._3).map { case (x, y) => x.toDouble * y.toDouble }.sum /
        (math.sqrt(a._3.map(x => x.toDouble * x).sum) * math.sqrt(b._3.map(x => x.toDouble * x).sum))
      if cos >= 0.8
    } yield (a._1, b._1)).toSet
    assert(exact.size > 200, s"planted corpus too sparse to pin recall: ${exact.size} pairs")
    val emb = vecs.toDF("vec_id", "label", "embedding")
      .withColumn("sq", graft.functions.VecFunctions.vec_dot(col("embedding"), col("embedding")))
    val bits = graft.queries.Dedup.d7Geometry(0.8, 16, 0.9)
    val lsh = graft.queries.Dedup.signLshPairs(spark, emb, 0.8, 16, bits)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "exact verification must keep precision at 1.0")
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.9, s"production-config recall $recall below 0.9 (|exact|=${exact.size})")
  }

  test("d5 candidate-volume guard fails fast naming the banded scale path") {
    // The sf10 GenData corpus proved exact postings enumeration quadratic
    // (13B candidate pairs — BENCHNOTES r11); the guard must convert that
    // into a fast failure pointing at d3, BEFORE the pair explosion. At
    // sf0.001 the kept-shingle Σ C(DF,2) is far above 10; the default cap
    // admits the corpus.
    spark.conf.set("graft.dedup.d5MaxCandidates", "10")
    try {
      val ex = intercept[Exception] {
        graft.queries.Dedup.queries("d5_ngram_jaccard")(spark, sf).count()
      }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
      assert(messages(ex).exists(m =>
        m.contains("d5MaxCandidates") && m.contains("d3_dedup_minhash")),
        s"guard must name the cap and the banded scale path, got: ${messages(ex)}")
    } finally spark.conf.unset("graft.dedup.d5MaxCandidates")
    assert(graft.queries.Dedup.queries("d5_ngram_jaccard")(spark, sf).count() > 0)
  }

  test("time-model guard fires on a density shift the volume cap misses") {
    // r14: the regenerated sf1 corpus tripled d13's wall-clock while its
    // candidate volume stayed far below the 500M absolute cap — a density
    // shift the static guard cannot see. The time model (candidates ÷
    // measured pairs/sec vs a budget) must convert exactly that shape
    // into a fast failure naming the banded twins. Build a SYNTHETIC
    // DENSE corpus: 4 cliques of 50 identical docs — every shingle's DF
    // sits exactly AT the df_cap floor (50), so nothing is capped away
    // and Σ C(DF,2) is large relative to corpus size; then shrink the
    // time budget to what a production SLA would be if throughput were
    // this corpus's measured rate.
    val dir = java.nio.file.Files.createTempDirectory("dense").toString
    val spark0 = spark
    import spark0.implicits._
    // Clique-SPECIFIC vocabularies: every shingle's DF equals the clique
    // size (= the df_cap floor), so nothing is capped away, candidate
    // volume is maximal for the corpus size, and containment within a
    // clique is 1.0 (the happy path returns rows at default confs).
    def cliqueText(c: Long) = (0 until 60).map(i => s"c${c}tok$i").mkString(" ")
    (0L until 200L).map(i => (i, cliqueText(i / 50), "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.conf.set("graft.dedup.pairsPerSec", "1000")
    spark.conf.set("graft.dedup.pairBudgetSec", "1")
    try {
      val ex = intercept[Exception] {
        graft.queries.Dedup.queries("d13_containment")(spark, dir).count()
      }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
      assert(messages(ex).exists(m =>
        m.contains("pairBudgetSec") && m.contains("predicted")
          && m.contains("d5_scale")),
        s"time guard must report the prediction and name the banded twins: ${messages(ex)}")
    } finally {
      spark.conf.unset("graft.dedup.pairsPerSec")
      spark.conf.unset("graft.dedup.pairBudgetSec")
    }
    // At the calibrated defaults the same dense corpus is tiny in absolute
    // terms and must pass — the model gates predicted TIME, not shape.
    assert(graft.queries.Dedup.queries("d13_containment")(spark, dir).count() > 0)
  }

  test("d20_scale (hashed window keys) equals exact d20 row-for-row") {
    // The twin contract: xxhash64 of the token slice vs the exact window
    // text are the same partition of windows absent 64-bit collisions, so
    // the outputs must be identical — a collision (or a drift in the
    // slice/tokenize path between the two keys) breaks this first.
    val a = graft.queries.Dedup.queries("d20_substring_spans")(spark, sf).collect()
    val b = graft.queries.Dedup.queries("d20_scale")(spark, sf).collect()
    assert(a.nonEmpty, "the gate corpus must contain duplicated substrings")
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
  }

  test("d20 spans: planted duplicate substring is found and merged maximally") {
    val dir = java.nio.file.Files.createTempDirectory("d20").toString
    val spark0 = spark
    import spark0.implicits._
    // doc 0 and doc 1 share one 15-token run (> K=10, so multiple
    // overlapping dup windows must MERGE into ONE span of 15 tokens);
    // doc 2 is clean and must not appear.
    val shared = (0 until 15).map(i => s"dup$i").mkString(" ")
    Seq(
      (0L, s"alpha beta $shared gamma delta one two three four five", "en", "s", 1L),
      (1L, s"$shared six seven eight nine ten eleven twelve thirteen fourteen", "en", "s", 1L),
      (2L, (0 until 30).map(i => s"clean${i}x").mkString(" "), "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.queries.Dedup.queries("d20_substring_spans")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_spans"), r.getAs[Long]("dup_tokens"))).toMap
    assert(out.keySet == Set(0L, 1L), s"only the two sharing docs report spans: $out")
    // 15 shared tokens ⇒ 6 overlapping dup windows per doc ⇒ ONE merged
    // span covering exactly the 15 shared tokens.
    assert(out(0L) == ((1L, 15L)), s"doc 0 must merge to one 15-token span: $out")
    assert(out(1L) == ((1L, 15L)), s"doc 1 must merge to one 15-token span: $out")
  }

  test("d21: planted eval window is localized in the train doc, merged maximally") {
    val dir = java.nio.file.Files.createTempDirectory("d21").toString
    val spark0 = spark
    import spark0.implicits._
    // The eval doc carries a 14-token secret; train doc 0 embeds it
    // verbatim (5 overlapping eval windows ⇒ ONE merged 14-token span);
    // train doc 1 is clean; the eval doc itself must never be reported.
    val secret = (0 until 14).map(i => s"sec$i").mkString(" ")
    Seq(
      (0L, s"intro words here $secret tail one two three four five", "en", "s", 1L),
      (1L, (0 until 25).map(i => s"ok${i}z").mkString(" "), "en", "s", 1L),
      (2L, s"$secret closing remark", "en", "src0", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    for (q <- Seq("d21_substr_decontam", "d21_scale")) {
      val out = graft.queries.Dedup.queries(q)(spark, dir).collect()
      assert(out.length == 1 && out(0).getLong(0) == 0L, s"$q: ${out.mkString(";")}")
      assert(out(0).getAs[Long]("n_spans") == 1L, s"$q merges overlapping hits")
      assert(out(0).getAs[Long]("contaminated_tokens") == 14L, s"$q span covers the secret")
    }
  }

  test("p6: the composed write gates, dedups, decontaminates, CUTS the spans, and pins the bytes") {
    val dir = java.nio.file.Files.createTempDirectory("p6").toString
    val spark0 = spark
    import spark0.implicits._
    val shared = (0 until 15).map(i => s"dup$i").mkString(" ")
    // doc 0/1 share a 15-token run (must merge to ONE cut span each);
    // doc 2 is clean; doc 3 duplicates doc 2's text exactly (dedup drop);
    // doc 5 shares the 3-gram "evil one evil" with the eval doc 4
    // (decontamination drop); doc 4 is the eval split itself (never
    // written). Survivors: 0 (cut to 9 tokens), 1 (cut to 9), 2 (uncut).
    val cleanTxt = (0 until 30).map(i => s"clean${i}x").mkString(" ")
    Seq(
      (0L, s"alpha beta $shared gamma delta one two three four five", "en", "s", 1L),
      (1L, s"$shared six seven eight nine ten eleven twelve thirteen fourteen", "en", "s", 1L),
      (2L, cleanTxt, "en", "s", 1L),
      (3L, cleanTxt, "en", "s", 1L),
      (4L, "evil one evil something here five six", "en", "src0", 1L),
      (5L, "xx evil one evil yy zz ww vv", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.queries.Dedup.queries("p6_substr_pretrain")(spark, dir).collect()
    // md5("0")/md5("1")/md5("2") all start with 'c' ⇒ one shard row (12).
    assert(out.length == 1 && out(0).getAs[Int]("shard") == 12, out.mkString(";"))
    val r = out(0)
    assert(r.getAs[Long]("n_docs") == 3L)
    assert(r.getAs[Long]("n_tokens") == 48L, s"kept tokens: $r")   // 9 + 9 + 30
    assert(r.getAs[Long]("cut_tokens") == 30L, s"cut tokens: $r")  // 15 + 15
    val t0 = "alpha beta gamma delta one two three four five"
    val t1 = "six seven eight nine ten eleven twelve thirteen fourteen"
    assert(r.getAs[Long]("n_bytes") == (t0.length + t1.length + cleanTxt.length).toLong)
    val md = java.security.MessageDigest.getInstance("MD5")
    val expectMd5 = md.digest(s"$t0\u0001$t1\u0001$cleanTxt".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(r.getAs[String]("clean_md5") == expectMd5,
      "surviving bytes must be exactly the span-cut texts in doc_id order")
  }

  test("d5_scale banded path equals exact d5 where the cap doesn't bite") {
    // On the test corpus the DF cap never bites, so capped d5 == uncapped
    // exact == d5_scale must hold row-for-row (banding recall 1.0 — the
    // claim that licenses d5_scale's exact-SQL oracle).
    val exact = graft.queries.Dedup.queries("d5_ngram_jaccard")(spark, sf)
      .select("doc_a", "doc_b", "inter", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val banded = graft.queries.Dedup.queries("d5_scale")(spark, sf)
      .select("doc_a", "doc_b", "inter", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(banded == exact, s"banded ${banded.size} pairs != exact ${exact.size}")
    assert(exact.nonEmpty)
  }

  test("d5_scale geometry is threshold-conditioned (d7 playbook, r12)") {
    // Defaults θ=0.85 / ρ=0.99999 derive 16 bands × 4 rows — the 64-hash
    // signature whose r=4 bands cut the degenerate-vocabulary bucket
    // occupancy from n·p² to n·p⁴ (the sf100 flood fix) while the
    // analytic recall floor stays ≥ ρ at the threshold.
    assert(graft.queries.Dedup.d5ScaleGeometry(0.85, 0.99999) == ((16, 4)))
    // Monotone in the threshold: tighter θ affords MORE rows per band
    // (more selective buckets) within the same signature budget.
    val (b95, r95) = graft.queries.Dedup.d5ScaleGeometry(0.95, 0.99999)
    assert(r95 > 4, s"tighter threshold should deepen bands, got ${(b95, r95)}")
    // Loose thresholds degrade gracefully toward plain minhash buckets
    // rather than blowing the hash budget — AND must still honor the
    // floor (review-caught: θ^r underflow made miss round to exactly 1.0,
    // ln(miss)=0, and the naive arithmetic returned a 1-band × 64-row
    // geometry with recall ~0 that "fit" the budget).
    val (bl, rl) = graft.queries.Dedup.d5ScaleGeometry(0.5, 0.99999)
    assert(rl >= 1 && bl * rl <= 64)
    // Every derivation honors the analytic recall floor at its threshold
    // (incl. the underflow-prone loose ones).
    for ((th, tgt) <- Seq((0.85, 0.99999), (0.9, 0.9999), (0.95, 0.99), (0.7, 0.999),
        (0.5, 0.99999), (0.3, 0.99), (0.2, 0.9))) {
      val (b, r) = graft.queries.Dedup.d5ScaleGeometry(th, tgt)
      val floor = 1.0 - math.pow(1.0 - math.pow(th, r.toDouble), b.toDouble)
      assert(floor >= tgt, s"($th,$tgt) -> ($b,$r) floor $floor below target")
      assert(b * r <= 64, s"($th,$tgt) -> ($b,$r) exceeds the signature budget")
    }
  }

  test("d9_scale/d17_scale equal their exact twins at verify SF") {
    // The first-class composition entries (pair graph from d5_scale) must
    // reproduce d9/d17 exactly in the banded==exact regime — the claim
    // that licenses their recursive-CTE oracles.
    for ((a, b) <- Seq(("d9_dup_clusters", "d9_scale"), ("d17_survivorship", "d17_scale"))) {
      val exact = graft.queries.Dedup.queries(a)(spark, sf).collect().map(_.toString).sorted
      val scale = graft.queries.Dedup.queries(b)(spark, sf).collect().map(_.toString).sorted
      assert(scale.sameElements(exact), s"$b diverges from $a")
    }
  }

  test("d9 clusters are consistent components of the d5 pair graph") {
    val pairs = graft.queries.Dedup.queries("d5_ngram_jaccard")(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val clusters = graft.queries.Dedup.queries("d9_dup_clusters")(spark, sf)
      .select("doc_id", "cluster_id", "cluster_size", "is_rep").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val label = clusters.map(c => c._1 -> c._2).toMap
    // exactly the docs that appear in some pair, each labeled once
    assert(label.keySet == pairs.flatMap(p => Seq(p._1, p._2)).toSet)
    // both endpoints of every edge share a component
    pairs.foreach { case (a, b) => assert(label(a) == label(b), s"$a~$b split") }
    // the label is the component minimum, and exactly its owner is rep
    label.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.keys.min == cid, s"cluster $cid not labeled by its min")
    }
    assert(clusters.count(_._4) == label.values.toSet.size)
    // sizes agree with membership
    val sizes = clusters.groupBy(_._2).view.mapValues(_.length).toMap
    clusters.foreach { c => assert(c._3 == sizes(c._2), s"size mismatch for ${c._1}") }
    // transitivity did real work on this corpus: some component is larger
    // than a single pair (A~B~C with no direct A~C edge) — guards against
    // a regression to pairwise-only labeling
    assert(sizes.values.max >= 3, s"expected a transitive cluster, got $sizes")
  }

  test("d4 simhash pairs have hamming <= 3 and are deduplicated") {
    val rows = graft.queries.Dedup.queries("d4_dedup_simhash")(spark, sf).collect()
    assert(rows.forall(_.getInt(2) <= 3))
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.distinct.length == pairs.length)
    assert(pairs.forall(p => p._1 < p._2))
  }

  test("d17 survivor argmax: null n_chars loses, all-null cluster tie-breaks to min doc_id") {
    // ADVICE r16: the argmax `max(struct(n_chars, -doc_id, doc_id))` relies
    // on (a) struct-max ordering nulls FIRST so a null n_chars member can
    // never beat any non-null member — matching the oracle window's
    // `n_chars DESC` (nulls last) — and (b) -doc_id as the tie key, valid
    // because doc_id is a non-negative BIGINT. Pin both semantics on a
    // crafted corpus instead of leaving them to generator invariants:
    // cluster {100,101,102} (identical text, n_chars null/null/5) must keep
    // 102; cluster {200,201} (all-null n_chars) must keep min doc_id 200.
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("d17-null-nchars").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val tA = "alpha beta gamma delta epsilon zeta"
    val tB = "one two three four five six seven"
    val rows = Seq(
      org.apache.spark.sql.Row(100L, tA, "en", "s0", null),
      org.apache.spark.sql.Row(101L, tA, "en", "s0", null),
      org.apache.spark.sql.Row(102L, tA, "en", "s0", 5L),
      org.apache.spark.sql.Row(200L, tB, "en", "s0", null),
      org.apache.spark.sql.Row(201L, tB, "en", "s0", null))
    spark.createDataFrame(new java.util.ArrayList(
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.queries.Dedup.queries("d17_survivorship")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got == Set(
      (100L, 102L, 5L, 3L, 2L),   // non-null n_chars wins over two nulls
      (200L, 200L, -1L, 2L, 1L)), // all-null: min doc_id, kept_chars null
      s"d17 null/tie semantics drifted: $got")
  }
}
