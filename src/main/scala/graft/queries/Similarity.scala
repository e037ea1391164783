package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Approximate-nearest-neighbor similarity search over the `embeddings`
  * table (SURVEY.md §2.4 LLM-pipeline extensions).
  *
  *  - `s1_knn_brute`: exact cosine top-k for a small query set — the query
  *    side is broadcast, so the candidate scan is a single map-side pass
  *    (no shuffle of the corpus); ranking shuffles only (query × k) rows.
  *    This is the correctness baseline and the right plan whenever
  *    |queries| ≪ |corpus|, even at 100 TB.
  *  - `s2_knn_lsh`: the scale path — random-hyperplane (sign-LSH) bucketing
  *    with single-bit multiprobe. Each corpus vector is hashed once into a
  *    16-bit bucket; a query only meets candidates in its probe buckets, so
  *    the join is linear in corpus size with a small constant. Recall vs
  *    `s1` is asserted in ScalaTest (not oracle-hashable: bucketing is
  *    hash-defined).
  *
  * The dot product folds left-to-right in doubles (`aggregate` over
  * `zip_with`), which DuckDB's `sum` over `unnest` reproduces bit-exactly —
  * verified by the sc6_array_fold oracle.
  */
object Similarity {

  private val DIM = 64
  private val TABLES = 16 // L hash tables …
  private val BITS = 6    // … of k sign-bits each (recall@5 ≈ 0.6 scanning ~25%)
  private val TOPK = 5

  // IVF geometry: NLIST cells, queries probe the NPROBE nearest; centroids
  // trained on a deterministic SAMPLE (first vec_ids).
  private val NLIST = 16
  private val NPROBE = 4
  // s19's own probe/pool budget (r16 sweep, BENCHNOTES): the rerank pool
  // is the cheap lever (|Q|·pool exact cosines) and 8/16 cells keeps half
  // the routing cut while lifting recall@5 to 0.66/0.56/0.51 at
  // sf0.001/0.01/0.1 (vs 0.30/0.40/0.32 at the old 4-cell, 20-pool
  // default). The pool-40 exhaustive-routing ceiling is 0.74/0.53 — past
  // nprobe 8 the POOL binds, so probing more cells buys little.
  private val S19_NPROBE = 8
  private val S19_POOL = 40
  private val SAMPLE = 2000
  // PQ geometry (s18/s19): PQ_M sub-spaces × PQ_K centroids = PQ_M code
  // bytes per vector.
  private val PQ_M = 8
  private val PQ_K = 16
  private val DRIFT_BITS = 6 // s15 cell = sign bits of the first 6 dims (64 cells)

  /** Deterministic ±1 hyperplanes (fixed-seed PRNG, same on every run). */
  private[queries] lazy val planes: Array[Array[Double]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(TABLES * BITS, DIM)(if (rnd.nextBoolean()) 1.0 else -1.0)
  }

  /** Lloyd's k-means on a (small, deterministic) sample — the coarse
    * quantizer for IVF. Fixed seed init, fixed iteration count, sequential
    * fold order ⇒ identical centroids on every run. */
  private[graft] def trainCentroids(sample: Array[Array[Float]],
      k: Int = NLIST, iters: Int = 10): Array[Array[Double]] = {
    val rnd = new scala.util.Random(7)
    val n = sample.length
    val dim = sample.headOption.map(_.length).getOrElse(0)
    // init from k DISTINCT sample points (duplicates would freeze a dead
    // cell: ties break low, so the twin centroid never receives a point).
    var cents = rnd.shuffle(sample.indices.toVector).take(math.min(k, n))
      .map(i => sample(i).map(_.toDouble)).toArray
    var it = 0
    while (it < iters) {
      val sums = Array.fill(cents.length, dim)(0.0)
      val counts = new Array[Long](cents.length)
      var i = 0
      while (i < n) {
        val c = nearestCells(sample(i), cents, 1)(0)
        var j = 0
        val lim = math.min(dim, sample(i).length) // ragged-input tolerant
        while (j < lim) { sums(c)(j) += sample(i)(j); j += 1 }
        counts(c) += 1
        i += 1
      }
      cents = cents.indices.map { c =>
        if (counts(c) == 0) cents(c)
        else sums(c).map(_ / counts(c))
      }.toArray
      it += 1
    }
    cents
  }

  /** Indices of the `probe` nearest centroids by squared L2 distance
    * (ties broken by lower index — deterministic).
    *
    * r17 (per-task work, optimization guide §1.2 step 2): probe == 1 — the
    * encode/assign hot path, called once per (vector, sub-space) inside the
    * distributed mapPartitions kernels and once per (sample point,
    * iteration) inside [[trainCentroids]] — takes an allocation-free argmin
    * instead of the array-alloc + zipWithIndex + sortBy path (which boxed
    * and sorted k tuples per call). Strict `<` keeps the LOWEST index on
    * distance ties, exactly the sort's (dist, idx) ascending order, so
    * every assignment (and every pinned hash downstream) is bit-identical. */
  private[queries] def nearestCells(emb: Array[Float],
      cents: Array[Array[Double]], probe: Int): Array[Int] = {
    if (probe == 1) {
      var best = 0
      var bestD = Double.PositiveInfinity
      var ci = 0
      while (ci < cents.length) {
        val c = cents(ci)
        var acc = 0.0
        var i = 0
        val n = math.min(emb.length, c.length)
        while (i < n) { val diff = emb(i) - c(i); acc += diff * diff; i += 1 }
        if (acc < bestD) { bestD = acc; best = ci }
        ci += 1
      }
      Array(best)
    } else {
      val d2 = cents.map { c =>
        var acc = 0.0
        var i = 0
        val n = math.min(emb.length, c.length)
        while (i < n) { val diff = emb(i) - c(i); acc += diff * diff; i += 1 }
        acc
      }
      d2.zipWithIndex.sortBy { case (dist, idx) => (dist, idx) }
        .take(probe).map(_._2)
    }
  }

  import graft.functions.VecFunctions.{ivec_dot, vec_dot}

  // All s-family ops (and d6/d7/d15) consume the validated embedding domain (Tables
  // .validEmbeddings: key+label present, declared dim, finite elements,
  // nonzero norm — mirrored verbatim in every oracle below). Validity
  // guarantees sq > 0, so every PAIRWISE cosine denominator is nonzero;
  // only centroid-derived denominators can still vanish (a label's
  // component sums can cancel to the zero vector) and are null-guarded
  // where they occur (s5/s6).
  private[queries] def normed(s: SparkSession, d: String): DataFrame =
    Tables.parallelized(Tables.validEmbeddings(s, d)).select(col("vec_id"), col("label"), col("embedding"),
      vec_dot(col("embedding"), col("embedding")).as("sq"))

  /** The declared every-50th query set of `e`, projected to `cols` and
    * SIZE-GUARDED for broadcast: the set is corpus-proportional, so at
    * 100 TB it would overflow any broadcast threshold — a lazy distributed
    * count joins in and `raise_error` fails the job with a pointer to the
    * scale paths (s2/s4) instead of silently OOMing the driver. Families
    * that expand a query into probes guard before the expansion, so the
    * cap counts queries. Cap configurable via `graft.ann.maxQuerySet`. */
  private def querySet(s: SparkSession, e: DataFrame, op: String, cols: Column*): DataFrame = {
    val q0 = e.filter(col("vec_id") % 50 === 0).select(cols: _*)
    val maxQ = s.conf.getOption("graft.ann.maxQuerySet").map(_.toInt).getOrElse(10000)
    val qn = q0.agg(count(lit(1)).as("__q_n"))
    q0.crossJoin(broadcast(qn))
      .filter(when(col("__q_n") > maxQ, raise_error(format_string(
        op + ": query set has %s vectors > graft.ann.maxQuerySet=%s; " +
          "the broadcast exact baseline needs a bounded query set — use " +
          "s2_knn_lsh or s4_knn_ivf at this scale",
        col("__q_n"), lit(maxQ)))).isNull)
      .drop("__q_n")
  }

  /** The query-side columns every exact-cosine stage reads, then `extra`. */
  private def qCore(extra: Column*): Seq[Column] =
    Seq(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("sq").as("q_sq")) ++ extra

  /** Exact float cosine of a query row (`q_emb`, `q_sq`) and a corpus row. */
  private def cosineCol: Column =
    dotCol("q_emb", "embedding") / (sqrt(col("q_sq")) * sqrt(col("sq")))

  /** Per-query rank by (cosine desc, vec_id) — the total order every
    * top-k cut uses. */
  private def cosineRank: Column =
    row_number().over(Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id")))

  /** The `(q_id, neighbor_id, rk, cosine)` top-[[TOPK]] of scored candidates. */
  private def topK(cands: DataFrame): DataFrame =
    cands.withColumn("rk", cosineRank)
      .filter(col("rk") <= TOPK)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rk"), col("cosine"))
      .orderBy(col("q_id"), col("rk"))

  /** s1's exact scan: the guarded query set is broadcast against the
    * corpus, so the candidate scan is one map-side pass (the corpus never
    * shuffles) and every (query, other vector) pair gets its cosine. */
  private def bruteScan(s: SparkSession, d: String, op: String): DataFrame = {
    val e = normed(s, d)
    e.join(broadcast(querySet(s, e, op, col("vec_id").as("q_id"), col("label").as("q_label"),
        col("embedding").as("q_emb"), col("sq").as("q_sq"))), col("vec_id") =!= col("q_id"))
      .withColumn("cosine", cosineCol)
  }

  /** The first [[SAMPLE]] vectors of `e` by vec_id: the deterministic
    * sample every trained quantizer (IVF cells, PQ books) learns from. */
  private def trainingSample(s: SparkSession, e: DataFrame): Array[Array[Float]] = {
    import s.implicits._
    e.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .orderBy(col("vec_id")).limit(SAMPLE).collect().map(_._2)
  }

  /** (vec_id, embedding, sq) rows of `df` tagged with their nearest
    * centroid's `cell` (ties to the lower cell): one typed narrow map. */
  private def assignCells(s: SparkSession, df: DataFrame,
      cents: Array[Array[Double]]): DataFrame = {
    import s.implicits._
    val bcC = s.sparkContext.broadcast(cents)
    df.select(col("vec_id"), col("embedding"), col("sq"))
      .as[(Long, Array[Float], Double)]
      .mapPartitions { it =>
        val cs = bcC.value
        it.map { case (id, emb, sq) =>
          (id, emb, sq, Similarity.nearestCells(emb, cs, 1)(0))
        }
      }.toDF("vec_id", "embedding", "sq", "cell")
  }

  /** The tail of the two-stage families (s17, s18/s19): each query's
    * candidate `pool` (q_id, vec_id, `score`) joins back to the corpus and
    * the query set by broadcast id joins — vectors never shuffle (s14's
    * hits-join-back shape) — and the top-[[TOPK]] by exact cosine is kept
    * with its `score`. */
  private def rerank(e: DataFrame, q: DataFrame, pool: DataFrame, score: String): DataFrame =
    e.select(col("vec_id"), col("embedding"), col("sq"))
      .join(broadcast(pool), "vec_id")
      .join(broadcast(q.select(col("q_id"), col("q_emb"), col("q_sq"))), "q_id")
      .withColumn("cosine", cosineCol)
      .withColumn("rank", cosineRank.cast("int"))
      .filter(col("rank") <= TOPK)
      .select(col("q_id"), col("rank"), col("vec_id"), col(score), col("cosine"))
      .orderBy(col("q_id"), col("rank"))

  /** IVF (inverted-file) ANN over float cosine — the second scale path
    * beside sign-LSH: a coarse quantizer (k-means centroids trained on a
    * deterministic sample) partitions the corpus into NLIST cells; each
    * vector is assigned to its nearest centroid once (narrow map, no
    * shuffle), and a query probes only its nprobe nearest cells — the
    * candidate scan is corpus/NLIST·nprobe instead of the full corpus.
    * At 100 TB the centroids are trained on a driver-side sample (the
    * first SAMPLE vectors by vec_id — deterministic) and broadcast.
    * At nprobe = NLIST the scan is exhaustive and the result equals
    * exact brute force — s4_exhaustive hash-oracles that regime against
    * s1's SQL; the production nprobe = NPROBE entry is recall-pinned in
    * SimilaritySpec (cell assignment is training-defined, like s2).
    * The probe set is broadcast, so it rides the same [[querySet]] size
    * guard as s1/s12/s13/s14 (ADVICE r12 class). */
  private def ivfKnn(s: SparkSession, d: String, nprobe: Int, op: String): DataFrame = {
    import s.implicits._
    val e = normed(s, d)
    val cents = Similarity.trainCentroids(trainingSample(s, e))
    val bc = s.sparkContext.broadcast(cents)
    val assigned = assignCells(s, e, cents)
    // Guard the QUERY set before probe expansion (s1's semantics — the
    // cap counts queries, not probe rows): the expanded broadcast is at
    // most NLIST× the guarded count, a known constant. Guarding after
    // expansion made the exhaustive twin trip at 1/NLIST of s1's query
    // count (caught live at the sf10 bench).
    val q = querySet(s, e, op, col("vec_id"), col("embedding"), col("sq"))
      .as[(Long, Array[Float], Double)]
      .mapPartitions { it =>
        val cs = bc.value
        it.flatMap { case (id, emb, sq) =>
          Similarity.nearestCells(emb, cs, nprobe).map(c => (id, emb, sq, c))
        }
      }
      .toDF("q_id", "q_emb", "q_sq", "cell")
    // No dedup needed (unlike s2): each corpus vector lives in exactly
    // one cell and a query's probe cells are distinct, so a (q, vec)
    // pair can join at most once.
    topK(assigned.join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cosine", cosineCol))
  }

  /** IVF × int8 — the production ANN composition at 100 TB: s4's coarse
    * quantizer bounds the SCAN (corpus/NLIST·nprobe candidates per query)
    * while s11's symmetric int8 codes bound the BYTES (the cell inverted
    * lists store 64 B codes, not 256 B floats — the floats are only
    * touched once, at ingest, for cell assignment and encoding).
    * Candidate scoring is ivec_dot integer cosine — exact integer
    * arithmetic, SIMD-friendly, no fold-order hazard. At nprobe = NLIST
    * the scan is exhaustive and the result equals int8-exact brute force
    * (each vector lives in exactly one cell and every cell is probed), so
    * the s13_exhaustive entry is hash-oracled; the production
    * nprobe = NPROBE entry is rows-only (cell assignment is
    * training-defined, s4's class) with quality pinned in SimilaritySpec
    * as recall vs exact s1 alongside the s12 quantization-only and s4
    * IVF-only baselines — the three factor the recall loss into its scan
    * and quantization components. */
  private def ivfSq8Knn(s: SparkSession, d: String, nprobe: Int, op: String): DataFrame = {
    import s.implicits._
    val e = normed(s, d).crossJoin(broadcast(dimMaxAbs(s, d)))
      .withColumn("qvec", sq8(col("embedding"), col("maxabs")))
      .withColumn("qsq", ivec_dot(col("qvec"), col("qvec")))
      .select(col("vec_id"), col("embedding"), col("qvec"), col("qsq"))
    val cents = Similarity.trainCentroids(trainingSample(s, e))
    val bc = s.sparkContext.broadcast(cents)
    val assigned = e.as[(Long, Array[Float], Array[Int], Long)]
      .mapPartitions { it =>
        val cs = bc.value
        it.map { case (id, emb, qv, qq) =>
          (id, qv, qq, Similarity.nearestCells(emb, cs, 1)(0))
        }
      }
      .toDF("vec_id", "qvec", "qsq", "cell")
    // Guard the QUERY set before probe expansion (s1's semantics — the
    // cap counts queries; the expanded broadcast is ≤ NLIST× that, a
    // known constant): a corpus-proportional query set must fail fast
    // with the raise_error pointer, not OOM the driver (ADVICE r12).
    val q = querySet(s, e, op, col("vec_id"), col("embedding"), col("qvec"), col("qsq"))
      .as[(Long, Array[Float], Array[Int], Long)]
      .mapPartitions { it =>
        val cs = bc.value
        it.flatMap { case (id, emb, qv, qq) =>
          Similarity.nearestCells(emb, cs, nprobe).map(c => (id, qv, qq, c))
        }
      }
      .toDF("q_id", "q_qvec", "q_qsq", "cell")
    // One cell per corpus vector + distinct probe cells per query ⇒ a
    // (q, vec) pair joins at most once (s4's no-dedup argument).
    topK(assigned.join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("qnorm",
        sqrt(col("q_qsq").cast("double")) * sqrt(col("qsq").cast("double")))
      .withColumn("cosine", when(col("qnorm") =!= 0.0,
        ivec_dot(col("q_qvec"), col("qvec")).cast("double") / col("qnorm"))))
  }

  /** Per-label centroid vectors with ORDER-FREE exact arithmetic: each float
    * component is quantized to DECIMAL(38,6) and summed (exact regardless of
    * accumulation order — float sums would be partitioning-dependent), then
    * the per-position sums are collapsed back to a float vector. Cosine
    * against these is scale-invariant, so the un-divided component sum
    * stands in for the mean. Shared by s5 (outlier ranking) and s6 (label
    * similarity matrix) so the centroid definition cannot drift.
    *
    * Quantization route (r8 adversarial-domain audit): float → STRING →
    * decimal, not float → double → decimal. Both engines print a float as
    * its shortest round-trip decimal (Ryū), so the string names the same
    * number on both sides; the double route diverges for |x| ≳ 1e11
    * because Spark expands the double via its shortest repr while DuckDB
    * expands the exact binary value — a hash-breaking disagreement the
    * shipped small-magnitude corpus never exercised. DECIMAL(38,6)
    * (was 18,6) keeps float-max-magnitude components representable. */
  private[queries] def centroidVecs(s: SparkSession, d: String): DataFrame =
    Tables.parallelized(Tables.validEmbeddings(s, d))
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("label"), col("pos"),
        col("x").cast("string").cast("decimal(38,6)").as("xq"))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("xq")).as("sx"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("sx")))),
        st => st.getField("sx").cast("double").cast("float")).as("cvec"))

  /** Per-dimension max-|x| over the valid corpus, as ONE row holding a
    * pos-ordered float array — the symmetric int8 quantizer's scale table
    * (s11/s12). Float max is exact (no summation), so the stats — and
    * everything quantized with them — are order-free and hash-oracle-safe.
    * Scale: posexplode feeds a map-side partial MAX, the exchange carries
    * (dim × partitions) partials, and the result is a single dim-length
    * row broadcast back (ZOrder's stats-pass shape). */
  private[queries] def dimMaxAbs(s: SparkSession, d: String): DataFrame =
    Tables.parallelized(Tables.validEmbeddings(s, d))
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(max(abs(col("x"))).as("m"))
      .groupBy()
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        st => st.getField("m")).as("maxabs"))

  /** Symmetric per-dimension int8 quantization: q = ⌊x·127/m + 0.5⌋ ∈
    * [−127, 127] (round-half-up via floor — floor is bit-identical across
    * engines, unlike the two engines' round() conventions). A zero-range
    * dimension (m = 0 ⇒ every x = 0) quantizes to 0 explicitly: ANSI mode
    * would otherwise fault the division. */
  private def sq8(emb: Column, maxabs: Column): Column =
    zip_with(emb, maxabs, (x, m) =>
      when(m === lit(0.0f), lit(0))
        .otherwise(floor(x.cast("double") * lit(127.0) / m.cast("double") + lit(0.5))
          .cast("int")))

  // Native codegen'd dot product (FloatVecDot) — same sequential fold order
  // as the SQL higher-order formulation, so oracle parity is preserved.
  private def dotCol(a: String, b: String) = vec_dot(col(a), col(b))

  /** The exact brute-force cosine top-k in DuckDB SQL — ONE definition
    * shared by s1_knn_brute and every `_exhaustive` twin (s2 at 1×0 bits,
    * s4 at NPROBE = NLIST), because all three contract to the identical
    * pair set and double expression tree. */
  private[queries] val BRUTE_KNN_SQL: String =
    s"""WITH e AS (
      |  SELECT vec_id, embedding,
      |    (SELECT sum(CAST(u.x AS DOUBLE) * CAST(u.x AS DOUBLE)) FROM unnest(embedding) u(x)) AS sq
      |  FROM ${graft.Tables.validEmbSql} embeddings),
      |scored AS (
      |  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
      |    (SELECT sum(CAST(p.v AS DOUBLE)) FROM unnest(
      |       list_transform(list_zip(q.embedding, c.embedding),
      |                      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) p(v))
      |      / (sqrt(q.sq) * sqrt(c.sq)) AS cosine
      |  FROM e q JOIN e c ON q.vec_id % 50 = 0 AND c.vec_id <> q.vec_id),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rk
      |  FROM scored)
      |SELECT q_id, neighbor_id, rk, cosine FROM ranked
      |WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin

  /** Sign-LSH top-k, parameterized by table/bit geometry (s2 production =
    * TABLES×BITS; s2_exhaustive = 1×0, which puts the whole corpus in one
    * bucket and makes the pipeline exact brute force). codes[t] = `bits`
    * sign bits of dots with planes[t·bits ..], computed in a typed
    * mapPartitions tight loop (like d4's simhash) — the interpreted
    * aggregate(zip_with(...)) mega-expression this replaced was the
    * slowest query in BENCH_r01 (2.26 s); 96 inline Column dots were no
    * better (the generated method blows past codegen limits). One narrow
    * map, no shuffle: linear in corpus size at any scale. The query set is
    * guarded BEFORE bucket expansion (the s4/s13 r13 lesson: guarding the
    * exploded frame trips the cap at 1/tables of the real query count),
    * so the broadcast stays ≤ tables × the cap — a known constant. */
  private def signLshKnn(s: SparkSession, d: String, tables: Int, bits: Int,
      op: String): DataFrame = {
    import s.implicits._
    val coded = normed(s, d)
      .select(col("vec_id"), col("embedding"), col("sq"))
      .as[(Long, Array[Float], Double)]
      .mapPartitions { it =>
        val pl = Similarity.planes
        it.map { case (id, emb, sq) =>
          (id, emb, sq, graft.functions.VecKernel.signCodes(emb, pl, tables, bits))
        }
      }
      .toDF("vec_id", "embedding", "sq", "codes")
    val bucketed = coded
      .select(col("vec_id"), col("embedding"), col("sq"),
        posexplode(col("codes")).as(Seq("t", "code")))
    val q = querySet(s, coded, op, col("vec_id"), col("embedding"), col("sq"), col("codes"))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("sq").as("q_sq"), posexplode(col("codes")).as(Seq("q_t", "q_code")))
    topK(bucketed.join(broadcast(q),
        col("q_t") === col("t") && col("q_code") === col("code") &&
          col("vec_id") =!= col("q_id"))
      .dropDuplicates("q_id", "vec_id")
      .withColumn("cosine", cosineCol))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact brute-force cosine top-k (query set = every 50th vector).
    // The plan broadcasts the QUERY side, which is only sound while that
    // side is bounded — the declared every-50th set is corpus-PROPORTIONAL,
    // so at 100 TB it would overflow any broadcast threshold. Same guard
    // pattern as d6's block-size bound: a lazy distributed count joined in,
    // raise_error behind a never-true-on-healthy-data filter, failing the
    // job with a pointer to the scale paths (s2/s4) instead of silently
    // OOMing the driver. Cap configurable via `graft.ann.maxQuerySet`.
    "s1_knn_brute" -> ((s, d) => topK(bruteScan(s, d, "s1_knn_brute"))),
    // Multi-table sign-LSH bucketed ANN: L tables of k sign-bits; a query
    // meets only candidates sharing a (table, code) bucket in ≥ 1 table.
    "s2_knn_lsh" -> ((s, d) => signLshKnn(s, d, TABLES, BITS, "s2_knn_lsh")),
    // s2 at 1 table × 0 bits: every vector lands in ONE shared bucket, so
    // the bucket join degenerates to exact brute force over the same query
    // set and the same double expression tree — s1's SQL verbatim oracles
    // the code/bucket/rank plumbing of the sign-LSH path (the
    // s4_exhaustive pattern applied to the third ANN family). The
    // production TABLES×BITS entry stays recall-pinned beside it.
    "s2_exhaustive" -> ((s, d) => signLshKnn(s, d, 1, 0, "s2_exhaustive")),
    // IVF (inverted-file) ANN — the second scale path beside sign-LSH:
    // a coarse quantizer (k-means centroids trained on a deterministic
    // sample) partitions the corpus into NLIST cells; each vector is
    // assigned to its nearest centroid once (narrow map, no shuffle), and
    // a query probes only its NPROBE nearest cells — the candidate scan is
    // corpus/NLIST·NPROBE instead of the full corpus. At 100 TB the
    // centroids are trained on a driver-side sample (here: the first
    // SAMPLE vectors by vec_id — deterministic) and broadcast; recall vs
    // exact s1 is pinned in SimilaritySpec (cell assignment is
    // training-defined ⇒ rows-only under the driver contract, like s2).
    "s4_knn_ivf" -> ((s, d) => ivfKnn(s, d, NPROBE, "s4_knn_ivf")),
    // s4 at NPROBE = NLIST: every cell probed ⇒ the float-cosine IVF
    // equals exact brute force (each vector lives in exactly one cell),
    // so s1's SQL IS the oracle and the cell-assignment/join/rank
    // plumbing gets a hash gate — the s13_exhaustive pattern applied to
    // the float path. The production NPROBE entry above stays
    // recall-pinned (cell assignment is training-defined).
    "s4_exhaustive" -> ((s, d) => ivfKnn(s, d, NLIST, "s4_exhaustive")),
    // Typed custom aggregation (Aggregator[IN,BUF,OUT]) over the embedding
    // norms: exact per-label median — partial/final hash aggregate like any
    // built-in, shuffling only buffers; order-insensitive, so exact-
    // hashable against the oracle at any SF (unlike float sums).
    // Embedding-QA outlier detection: per-label centroid, then the TOPK
    // vectors FARTHEST from their own label's centroid by cosine (lowest
    // cosine = likeliest mislabel/outlier). Hash-exact across engines by
    // construction: (a) cosine is scale-invariant, so the un-normalized
    // per-(label,pos) component SUM stands in for the mean centroid — no
    // division; (b) each float component is cast to DECIMAL(18,6) (HALF_UP;
    // bit-agreed with DuckDB's cast on every distinct component at sf0.1)
    // and summed exactly, so the centroid is order-free; (c) the dot
    // product folds sequentially on both engines (s1 precedent).
    // Scale: posexplode feeds a map-side partial agg, so the shuffle
    // carries only (#labels × dim × #partitions) partial rows; the
    // centroid table (#labels × dim) is broadcast back. The final
    // per-label ranking is a row_number window — for label cardinalities
    // far beyond TOPK·cluster-width, swap in the salted two-phase top-k
    // (operators/Skew.scala) as q20's scaladoc describes.
    "s5_centroid_outliers" -> { (s, d) =>
      // A label's exact component sums can cancel to the zero vector (e.g.
      // a vector and its negation alone in a label), so the centroid-side
      // norm — unlike the validity-guaranteed row norm — can be 0. DuckDB
      // returns NULL for double x/0; the when() reproduces that, and the
      // window orders NULL cosines LAST to match DuckDB's default null
      // order (Spark's ASC default is nulls-first — a silent rank
      // divergence on any degenerate label).
      val scored = normed(s, d).join(broadcast(centroidVecs(s, d)), Seq("label"))
        .withColumn("cnorm", sqrt(col("sq")) * sqrt(vec_dot(col("cvec"), col("cvec"))))
        .withColumn("cosine",
          when(col("cnorm") =!= 0.0, dotCol("embedding", "cvec") / col("cnorm")))
      val w = Window.partitionBy(col("label")).orderBy(col("cosine").asc_nulls_last, col("vec_id"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= TOPK)
        .select(col("label"), col("vec_id"), col("rk"), col("cosine"))
        .orderBy(col("label"), col("rk"))
    },
    // Input-validity audit for the embeddings domain (Tables.validEmbeddings'
    // companion — t21's sibling): reason columns are independent indicators,
    // n_valid is the exact row count every s-family/d6/d7/d15 consumer sees.
    // One map-side-combining aggregate; the element scans are per-row
    // narrow-map lambdas, so the single-row merge is the only exchange.
    "s10_vec_validity" -> { (s, d) =>
      val dim = graft.Tables.embDim(s)
      val nonFinite = (x: Column) => x.isNull || isnan(x) ||
        x === lit(Float.PositiveInfinity) || x === lit(Float.NegativeInfinity)
      Tables.embeddings(s, d)
        .agg(
          count(lit(1)).as("n_total"),
          sum(when(col("vec_id").isNull, 1L).otherwise(0L)).as("n_null_vec_id"),
          sum(when(col("label").isNull, 1L).otherwise(0L)).as("n_null_label"),
          sum(when(col("embedding").isNull, 1L).otherwise(0L)).as("n_null_emb"),
          sum(when(col("embedding").isNotNull && size(col("embedding")) =!= dim, 1L)
            .otherwise(0L)).as("n_wrong_dim"),
          sum(when(col("embedding").isNotNull &&
            coalesce(exists(col("embedding"), x => nonFinite(x)), lit(true)), 1L)
            .otherwise(0L)).as("n_non_finite"),
          sum(when(col("embedding").isNotNull &&
            !coalesce(exists(col("embedding"), x => nonFinite(x)), lit(true)) &&
            !exists(col("embedding"), x => x =!= lit(0.0f)), 1L)
            .otherwise(0L)).as("n_zero_norm"),
          sum(when(col("vec_id").isNotNull && col("label").isNotNull &&
            col("embedding").isNotNull && size(col("embedding")) === dim &&
            !coalesce(exists(col("embedding"), x => nonFinite(x)), lit(true)) &&
            exists(col("embedding"), x => x =!= lit(0.0f)), 1L)
            .otherwise(0L)).as("n_valid"))
    },
    "s3_label_median_norm" -> { (s, d) =>
      import s.implicits._
      Tables.validEmbeddings(s, d)
        .select(col("label"),
          vec_dot(col("embedding"), col("embedding")).as("norm_sq"))
        .as[(Int, Double)]
        .groupByKey(_._1)
        .mapValues(_._2)
        .agg(graft.functions.ExactMedian.toColumn.name("median_norm_sq"),
          count(lit(1)).as[Long])
        .toDF("label", "median_norm_sq", "n")
        .orderBy(col("label"))
    },
    // Hard-negative / margin mining (embedding-training data prep): for
    // each query vector, the gap between its best and second-best cosine
    // neighbor — small margins mark ambiguous regions, exactly the pairs
    // contrastive training wants more of. Same guarded-broadcast scan as
    // s1 (bounded query set, corpus never shuffles); the margin is one
    // exact double subtraction, so the row set is oracle-stable.
    "s7_margin_mining" -> { (s, d) =>
      bruteScan(s, d, "s7_margin_mining").withColumn("rk", cosineRank)
        .filter(col("rk") <= 2)
        .groupBy(col("q_id"))
        .agg(
          max(when(col("rk") === 1, col("vec_id"))).as("best_id"),
          max(when(col("rk") === 1, col("cosine"))).as("cos1"),
          max(when(col("rk") === 2, col("cosine"))).as("cos2"))
        .withColumn("margin", col("cos1") - col("cos2"))
        .orderBy(col("q_id"))
    },
    // 1-NN label accuracy — the standard intrinsic eval of embedding
    // quality ("do nearest neighbors share a label?") run entirely
    // in-engine: each guarded query vector takes its nearest OTHER
    // vector's label as the prediction, rolled up per true label with an
    // exact-count accuracy ratio. Reuses s1's guarded broadcast scan
    // (same scale contract: bounded query set, linear corpus pass; the
    // corpus-proportional eval belongs on s2/s4 candidates). The ratio is
    // one IEEE division of exact BIGINTs — hash-oracle-safe.
    "s8_knn_accuracy" -> { (s, d) =>
      bruteScan(s, d, "s8_knn_accuracy").withColumn("rk", cosineRank)
        .filter(col("rk") === 1)
        .groupBy(col("q_label"))
        .agg(count(lit(1)).as("n_q"),
          sum(when(col("label") === col("q_label"), 1L).otherwise(0L)).as("n_correct"))
        .withColumn("accuracy",
          col("n_correct").cast("double") / col("n_q").cast("double"))
        .select(col("q_label").as("label"), col("n_q"), col("n_correct"),
          col("accuracy"))
        .orderBy(col("label"))
    },
    // Triplet mining for contrastive training: each guarded anchor gets
    // its hardest positive (nearest SAME-label neighbor) and hardest
    // negative (nearest OTHER-label neighbor), plus the triplet margin
    // cos_pos − cos_neg — negative margins are exactly the triplets a
    // contrastive loss learns from. One guarded broadcast corpus pass
    // (s1's scale contract); the per-anchor argmax runs per (anchor,
    // same-label?) branch via conditional rank windows, so no second
    // corpus scan. Ranks use the (cosine desc, vec_id) total order —
    // deterministic, hash-oracle-safe.
    "s9_triplet_mining" -> { (s, d) =>
      val scored = bruteScan(s, d, "s9_triplet_mining")
        .withColumn("same", col("label") === col("q_label"))
      val w = Window.partitionBy(col("q_id"), col("same"))
        .orderBy(col("cosine").desc, col("vec_id"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .groupBy(col("q_id"))
        .agg(
          max(when(col("same"), col("vec_id"))).as("pos_id"),
          max(when(col("same"), col("cosine"))).as("cos_pos"),
          max(when(!col("same"), col("vec_id"))).as("neg_id"),
          max(when(!col("same"), col("cosine"))).as("cos_neg"))
        .withColumn("margin", col("cos_pos") - col("cos_neg"))
        .orderBy(col("q_id"))
    },
    // Label-centroid similarity matrix: pairwise cosine between every two
    // label centroids — the embedding-space QA view (which classes are
    // confusable / candidates for merging). Builds on s5's order-free
    // decimal centroids, so it is hash-exact. Scale: the centroid table is
    // #labels × dim (tiny at any corpus size — the corpus collapses in the
    // one posexplode partial agg), so the pairwise step is a broadcast
    // theta-join over k² pairs, never touching the corpus again.
    "s6_centroid_sim" -> { (s, d) =>
      // Self-joining the lazy centroid plan would scan the corpus twice
      // (union/self-join duplicates the subtree — d9's lesson); the
      // centroid table is #labels × dim, so materialize it once.
      val cent = centroidVecs(s, d).localCheckpoint(true)
      val a = cent.select(col("label").as("label_a"), col("cvec").as("va"))
      val b = cent.select(col("label").as("label_b"), col("cvec").as("vb"))
      a.join(broadcast(b), col("label_a") < col("label_b"))
        // Same zero-centroid guard as s5: NULL cosine (DuckDB x/0
        // semantics) instead of an ANSI divide-by-zero job failure.
        .withColumn("cnorm",
          sqrt(vec_dot(col("va"), col("va"))) * sqrt(vec_dot(col("vb"), col("vb"))))
        .withColumn("cosine",
          when(col("cnorm") =!= 0.0, vec_dot(col("va"), col("vb")) / col("cnorm")))
        .select(col("label_a"), col("label_b"), col("cosine"))
        .orderBy(col("label_a"), col("label_b"))
    },
    // Symmetric int8 scalar quantization of the embedding corpus — the
    // index-compression layer every 100 TB ANN deployment runs: float32
    // vectors are 256 B each; the int8 twin is 64 B (4×; 16× vs float64),
    // dot products become exact integer SIMD ops (ivec_dot, LONG
    // accumulator), and the per-dim scale table is ONE dim-length row.
    // The query emits the quantized corpus plus the per-vector worst-case
    // reconstruction error — the audit row you inspect before swapping
    // the index. Every step is IEEE-deterministic (float max stats, one
    // double mul/div chain, floor), so the whole output hash-matches the
    // oracle — no "approximately equal" escape hatch.
    // Scale: the stats pass is a dim-sized partial-max agg (ZOrder's
    // shape); the encode is a narrow map under a 1-row broadcast. Nothing
    // else shuffles.
    "s11_sq8_quantize" -> { (s, d) =>
      val e = Tables.parallelized(Tables.validEmbeddings(s, d))
        .select(col("vec_id"), col("embedding"))
      e.crossJoin(broadcast(dimMaxAbs(s, d)))
        .withColumn("qvec", sq8(col("embedding"), col("maxabs")))
        // recon = q·m/127 — divides by the constant, so no zero guard;
        // a zero-range dim has q = 0 and m = 0 ⇒ recon = 0 = x exactly.
        .withColumn("max_abs_err",
          array_max(zip_with(col("embedding"),
            zip_with(col("qvec"), col("maxabs"),
              (q, m) => q.cast("double") * m.cast("double") / lit(127.0)),
            (x, r) => abs(x.cast("double") - r))))
        // qvec ships CSV-encoded: the driver's pandas-based oracle harness
        // cannot sort/hash list columns (lexsort TypeError, r12's one hard
        // err) — a scalar encoding keeps the hash contract byte-exact
        // (integer formatting is identical on both engines) without
        // weakening it. array_join == DuckDB array_to_string.
        .select(col("vec_id"), array_join(col("qvec"), ",").as("qvec_csv"),
          col("max_abs_err"))
        .orderBy(col("vec_id"))
    },
    // Recall of the QUANTIZED index against the exact one, measured
    // in-engine — s8's accuracy idea applied to s11's compression: every
    // guarded query ranks the corpus twice in ONE candidate pass (exact
    // float cosine vs integer-dot cosine on the int8 twins) and reports
    // |top-5 ∩ top-5|. This is the acceptance gate you run on a corpus
    // sample before switching the fleet's index to int8. One corpus scan,
    // one broadcast join, and one group-limited rank exchange (each map
    // task forwards ≤TOPK rows per (q_id, metric) — survivors shuffle,
    // never the scored set); the integer dots are EXACT (no fold-order
    // hazard), so ranking — and the oracle hash — is deterministic with
    // the (cosine, vec_id) tie-break.
    "s12_sq8_recall" -> { (s, d) =>
      val coded = normed(s, d).crossJoin(broadcast(dimMaxAbs(s, d)))
        .withColumn("qvec", sq8(col("embedding"), col("maxabs")))
        .withColumn("qsq", ivec_dot(col("qvec"), col("qvec")))
        .drop("maxabs")
      val q = querySet(s, coded, "s12_sq8_recall",
        qCore(col("qvec").as("q_qvec"), col("qsq").as("q_qsq")): _*)
      val scored = coded.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .withColumn("cos_e", cosineCol)
        // A valid vector CAN quantize to all-zero (every |x| < m/254) —
        // s5's zero-norm guard: NULL cosine (DuckDB x/0 semantics),
        // ranked last on both engines.
        .withColumn("qnorm", sqrt(col("q_qsq").cast("double")) * sqrt(col("qsq").cast("double")))
        .withColumn("cos_q", when(col("qnorm") =!= 0.0,
          ivec_dot(col("q_qvec"), col("qvec")).cast("double") / col("qnorm")))
      // r17 (§2.3/§2.4): the rank conditions moved OUT of the aggregate
      // into filter(rk <= TOPK) over ONE metric-tagged window, so Spark's
      // WindowGroupLimit cuts each map task to ≤TOPK rows per
      // (q_id, metric) BEFORE the exchange — the candidate shuffle carries
      // rank survivors, not the |corpus|·|Q| scored set, and the two full
      // per-partition sorts collapse to one group-limited pass (s17's
      // pinned shape). n_common = |top5_e ∩ top5_q| is unchanged: the
      // tagged ordering (c DESC NULLS LAST, vec_id) is the old per-metric
      // ordering exactly (cos_e is never null on the validated domain).
      val tagged = scored.select(col("q_id"), col("vec_id"),
        explode(array(
          struct(lit("e").as("m"), col("cos_e").as("c")),
          struct(lit("q").as("m"), col("cos_q").as("c")))).as("mc"))
        .select(col("q_id"), col("vec_id"), col("mc.m").as("m"), col("mc.c").as("c"))
      val w = Window.partitionBy(col("q_id"), col("m"))
        .orderBy(col("c").desc_nulls_last, col("vec_id"))
      tagged.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= TOPK)
        .groupBy(col("q_id"), col("vec_id"))
        .agg(count(lit(1)).as("nm"))
        .groupBy(col("q_id"))
        .agg(sum(when(col("nm") === 2, 1L).otherwise(0L)).as("n_common"))
        .withColumn("recall_at_5", col("n_common").cast("double") / lit(TOPK.toDouble))
        .orderBy(col("q_id"))
    },
    "s13_knn_ivf_sq8" -> ((s, d) => ivfSq8Knn(s, d, NPROBE, "s13_knn_ivf_sq8")),
    // The SAME IVF×int8 machinery with NPROBE = NLIST: every query probes
    // every cell, so each (q, vec) pair is scored exactly once and the
    // result equals int8-exact brute force — the cell assignment cancels
    // out of the answer entirely. That turns the composition's
    // correctness into a hash contract (the s12 pattern: quantization is
    // deterministic): the exhaustive twin hash-matches the pure
    // integer-cosine oracle, proving the join/rank plumbing of s13
    // introduces NO error beyond the documented NPROBE<NLIST scan cut,
    // which stays recall-pinned on the production entry above.
    "s13_exhaustive" -> ((s, d) => ivfSq8Knn(s, d, NLIST, "s13_exhaustive")),
    // Retrieval end-to-end (the RAG serving shape): ANN top-k over the
    // vector side, then a KEY join back to the DOCUMENT store to return
    // the payload the caller actually wants (lang/source here; text in
    // production). The plan shape is the part that matters at 100 TB:
    // the hit set is (|queries| × k) ids — broadcast it against the doc
    // store scan, so documents are filtered in place and NEVER shuffle
    // (PlanSpec pins no SortMergeJoin). Exact s1 ranking here so the
    // whole query is hash-oracled; at scale swap the ranking stage for
    // s2/s4/s13 — the join-back shape is identical. Inner join by
    // design: a hit whose document fails validity is dropped (rk gaps
    // stay visible — the caller should know a hit was unservable).
    "s14_rag_retrieve" -> { (s, d) =>
      val hits = bruteScan(s, d, "s14_rag_retrieve").withColumn("rk", cosineRank)
        .filter(col("rk") <= 3)
        .select(col("q_id"), col("vec_id").as("doc_id"), col("rk"), col("cosine"))
      Tables.validDocuments(s, d)
        .join(broadcast(hits), Seq("doc_id"))
        .select(col("q_id"), col("rk"), col("doc_id"), col("lang"),
          col("source"), col("cosine"))
        .orderBy(col("q_id"), col("rk"))
    },
    // Embedding-distribution drift monitor — q65's sibling for the vector
    // store: when does the index need retraining/rebalancing? Vectors
    // bucket into 2^DRIFT_BITS cells by the SIGN of their first
    // DRIFT_BITS raw dimensions — sign bits are exact on both engines
    // (no training artifact to ship, unlike k-means cells), so unlike
    // s4's assignment this one is fully hash-oracled. Old/new vintage =
    // even/odd vec_id (q65's split convention); per cell: occupancy of
    // each vintage, shares, share lift, and a drift verdict (vanished or
    // newborn cell, or lift outside [1/2, 2]). Every count is exact
    // BIGINT; shares/lift are fixed divisions on identical operands —
    // bit-identical cross-engine (ANSI: the t_old/t_new = 0 and
    // share_old = 0 denominators are when()-guarded; DuckDB's x/0 NULL
    // agrees). Scale shape: narrow sign-bit map → one 64-group agg with
    // map-side partials → window over the 64-row cell table. At 100 TB
    // the exchange carries 64 rows of counts, never vectors.
    "s15_embedding_drift" -> { (s, d) =>
      // Clamp the cell window to the DECLARED dimension: ANSI element_at
      // past the array end is a job-kill, and a session configured below
      // DRIFT_BITS dims (graft.embedding.dim) must coarsen the grid, not
      // crash the monitor. The driver corpus declares 64 dims, where the
      // clamp is the identity — the interpolated oracle states that domain.
      val bits = math.min(DRIFT_BITS, Tables.embDim(s))
      val cell = (0 until bits)
        .map(i => when(element_at(col("embedding"), i + 1) > 0f, 1 << i).otherwise(0))
        .reduce(_ + _)
      val counts = Tables.validEmbeddings(s, d)
        .select(col("vec_id"), cell.as("cell"))
        .groupBy(col("cell"))
        .agg(sum(when(col("vec_id") % 2 === 0, 1L).otherwise(0L)).as("n_old"),
          sum(when(col("vec_id") % 2 =!= 0, 1L).otherwise(0L)).as("n_new"))
      val all = Window.partitionBy()
      counts
        .withColumn("t_old", sum(col("n_old")).over(all))
        .withColumn("t_new", sum(col("n_new")).over(all))
        .withColumn("share_old", when(col("t_old") =!= 0L,
          col("n_old").cast("double") / col("t_old").cast("double")))
        .withColumn("share_new", when(col("t_new") =!= 0L,
          col("n_new").cast("double") / col("t_new").cast("double")))
        .withColumn("lift",
          when(col("share_old") > 0.0, col("share_new") / col("share_old")))
        .withColumn("drifted",
          when(col("n_old") === 0L || col("n_new") === 0L ||
            col("lift") > 2.0 || col("lift") < 0.5, 1L).otherwise(0L))
        .select(col("cell"), col("n_old"), col("n_new"), col("share_old"),
          col("share_new"), col("lift"), col("drifted"))
        .orderBy(col("cell"))
    },
    // Dimension-truncation acceptance gate (s12's recall-matrix idea
    // applied to Matryoshka-style prefix truncation instead of int8
    // quantization): rank the corpus by FULL-dim cosine and by the cosine
    // of the first dim/4 and dim/2 prefix dimensions in ONE candidate
    // pass, and report |top-5 ∩ top-5| per query for each truncation.
    // This is the audit you run before serving a shorter index: prefix
    // dots cut index bytes AND dot FLOPs 4×/2× with no re-embedding, but
    // only if recall holds on YOUR corpus. Everything is deterministic —
    // the prefix dot is the same sequential double fold as the full one
    // (s1's oracle precedent), so the rankings and the hash contract are
    // exact. A VALID vector can still have an all-zero prefix: its prefix
    // cosine is NULL (DuckDB x/0), ranked last on both engines (s5's
    // guard). Scale shape: one corpus scan, one broadcast join, and one
    // group-limited tagged rank exchange (≤TOPK survivors per
    // (q_id, metric) per map task); at 100 TB the ranking stage swaps
    // for s2/s4/s13 exactly as in s14.
    "s16_prefix_recall" -> { (s, d) =>
      val dim = Tables.embDim(s)
      // Clamp like s15: a session configured below 4 dims coarsens to
      // 1-dim prefixes instead of crashing; the driver corpus declares 64
      // (prefixes 16/32), which is the domain the oracle states.
      val p1 = math.max(1, dim / 4)
      val p2 = math.max(1, dim / 2)
      val withP = normed(s, d)
        .withColumn("emb1", slice(col("embedding"), 1, p1))
        .withColumn("emb2", slice(col("embedding"), 1, p2))
        .withColumn("sq1", vec_dot(col("emb1"), col("emb1")))
        .withColumn("sq2", vec_dot(col("emb2"), col("emb2")))
      val q = querySet(s, withP, "s16_prefix_recall",
        qCore(col("emb1").as("q_emb1"), col("sq1").as("q_sq1"), col("emb2").as("q_emb2"),
          col("sq2").as("q_sq2")): _*)
      val scored = withP.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .withColumn("cos_f", cosineCol)
        .withColumn("cos_1", when(col("q_sq1") =!= 0.0 && col("sq1") =!= 0.0,
          dotCol("q_emb1", "emb1") / (sqrt(col("q_sq1")) * sqrt(col("sq1")))))
        .withColumn("cos_2", when(col("q_sq2") =!= 0.0 && col("sq2") =!= 0.0,
          dotCol("q_emb2", "emb2") / (sqrt(col("q_sq2")) * sqrt(col("sq2")))))
      // r17 (§2.3/§2.4, s12's rework): one metric-tagged window + a
      // filter(rk <= TOPK) lets WindowGroupLimit cap each map task at
      // ≤TOPK rows per (q_id, metric) BEFORE the exchange — survivors
      // shuffle, not the |corpus|·|Q| scored set, and the three full
      // per-partition sorts collapse to one group-limited pass. Top-5
      // sets per metric are unchanged (cos_f is never null on the
      // validated domain, so DESC ≡ DESC NULLS LAST for it), hence both
      // intersection counts and the oracle hash are unchanged.
      val tagged = scored.select(col("q_id"), col("vec_id"),
        explode(array(
          struct(lit("f").as("m"), col("cos_f").as("c")),
          struct(lit("1").as("m"), col("cos_1").as("c")),
          struct(lit("2").as("m"), col("cos_2").as("c")))).as("mc"))
        .select(col("q_id"), col("vec_id"), col("mc.m").as("m"), col("mc.c").as("c"))
      val w = Window.partitionBy(col("q_id"), col("m"))
        .orderBy(col("c").desc_nulls_last, col("vec_id"))
      tagged.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= TOPK)
        .groupBy(col("q_id"), col("vec_id"))
        .agg(max(when(col("m") === "f", 1L).otherwise(0L)).as("in_f"),
          max(when(col("m") === "1", 1L).otherwise(0L)).as("in_1"),
          max(when(col("m") === "2", 1L).otherwise(0L)).as("in_2"))
        .groupBy(col("q_id"))
        .agg(sum(col("in_f") * col("in_1")).as("n_common_q"),
          sum(col("in_f") * col("in_2")).as("n_common_h"))
        .withColumn("recall_quarter", col("n_common_q").cast("double") / lit(TOPK.toDouble))
        .withColumn("recall_half", col("n_common_h").cast("double") / lit(TOPK.toDouble))
        .orderBy(col("q_id"))
    },
    // 1-bit binary quantization + exact rerank — the last stop on the
    // bytes axis (float s1 → int8 s11/s13 → one BIT per dimension): the
    // sign of each dimension packs into a 64-bit signature, candidate
    // scoring is ONE xor + popcount per pair (Hamming distance — cheap
    // enough to run corpus × queries at 100 TB), the top-20 pool per query
    // is cut by a WindowGroupLimit heap, and only those candidates pay an
    // exact float cosine. Sign bits are exact on both engines (no training
    // artifact, no rounding), so unlike real learned binary codes the
    // WHOLE pipeline is hash-oracled: the oracle computes Hamming as the
    // count of sign-disagreeing dimensions over list_zip — packed-xor and
    // positional-compare are the same function.
    //
    // Scale shape: vectors NEVER shuffle — the hamming pass exchanges only
    // (q_id, vec_id, hamming) survivors (WindowGroupLimit keeps ≤20·|Q|
    // per task below the exchange), and the rerank re-reads the corpus
    // with the tiny pool BROADCAST onto it (s14's hits-join-back shape:
    // a second columnar scan beats shuffling every vector). The sig
    // column is one aggregate HOF at scan time, fused into the same pass
    // as the validity filter.
    "s17_hamming_rerank" -> ((s, d) =>
      hammingRerank(s, d, 1, 0, "s17_hamming_rerank")),
    // s17's BUCKETED candidate stage (r13 verdict nit 1: with the
    // every-50th query set, s17's exhaustive xor pass is O(corpus²/50) —
    // 11.3×/decade at sf100). The 64-bit signature splits into `tables`
    // DISJOINT `bits`-bit chunks (s2's multi-table banding on the 1-bit
    // axis, = multi-index Hamming search, Norouzi et al. CVPR'12); a
    // corpus vector meets a query only when some chunk agrees exactly,
    // with the PIGEONHOLE guarantee: a pair within Hamming distance
    // tables−1 differs in < tables chunks, so some chunk matches — at the
    // default 12×5 nothing closer than 12 bits can be missed (exact on
    // the near-dup regime, d7's domain; SimilaritySpec plants such pairs).
    // Geometry picked by measurement on the gate corpus (this corpus's
    // true neighbors sit at Hamming 17–25 of 64, near the random mean, so
    // the signature is weakly cosine-informative): 12×5 = recall 0.80 of
    // s17's final top-5 scanning 32% of the cross product; 10×6 = 0.52 @
    // 14%; 8×8 = 0.22 @ 3% — and the honest limit is stated: bucket
    // count is geometry-fixed, so the cut is a CONSTANT factor on
    // collision mass; dense corpora should raise bits (fewer, tighter
    // tables), bounded by the 64-bit signature. The Hamming pool and cosine rerank are s17's
    // tail (shared [[hammingRerank]]); the 1×0 geometry collapses
    // the pipeline onto s17's exact plan, which is what keeps the shared
    // path hash-oracled while this production row is recall-pinned.
    "s17_scale" -> ((s, d) => hammingRerank(s, d, 12, 5, "s17_scale")),
    // Product quantization + asymmetric distance computation (Jégou et
    // al. TPAMI'11) — the remaining classic on the bytes-per-vector axis
    // (float s1 → int8 s11/s13 → 1-bit s17 → PQ): the vector space splits
    // into M orthogonal sub-spaces, each with its own K-centroid codebook
    // (trained per sub-space on the deterministic IVF sample), and a
    // corpus vector is stored as M CODE BYTES — 32× smaller than the
    // float vector at the default 8×16 on dim 64. Scoring is asymmetric:
    // the query stays float; its M×K inner-product lookup table is built
    // once per query, and each candidate scores as M table-lookup ADDS
    // (a pure Catalyst aggregate-HOF over the codes array — no float
    // multiply, no UDF, codegen'd). The ADC top-`pool` then reranks with
    // exact cosine, s17's tail ([[rerank]]). It runs s19's IVFADC pipeline
    // over one all-zero coarse cell ([[originCell]]): plain PQ is IVFADC
    // with nothing to route. At 100 TB the ADC scan reads the
    // CODES table (M bytes/vector); embeddings are touched only for the
    // (|Q|·pool)-row rerank via broadcast id joins — vectors never
    // shuffle, never cross-product. Codebook quality affects only WHICH
    // candidates reach the pool (recall-pinned in SimilaritySpec);
    // correctness of everything downstream is hash-certified by the twin.
    "s18_pq_adc" -> ((s, d) => ivfPqKnn(s, d, originCell, 1, 20, "s18_pq_adc")),
    // s18 with the pool cut OPEN (pool ≥ any corpus): every candidate is
    // exactly reranked, so the ADC ordering cancels out of the answer and
    // the pipeline collapses to s1's brute force — s1's SQL verbatim
    // oracles the codebook/encode/LUT/rank plumbing (the s2/s4/s13/s17
    // exhaustive-twin convention on the fourth quantization family).
    "s18_exhaustive" -> ((s, d) =>
      ivfPqKnn(s, d, originCell, 1, Int.MaxValue, "s18_exhaustive")
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          col("rank").as("rk"), col("cosine"))
        .orderBy(col("q_id"), col("rk"))),
    // PQ recall made DRIVER-VISIBLE — the s12 acceptance-matrix shape on
    // the fourth quantization family: every guarded query reports
    // |s18 top-5 ∩ exact top-5| per query as an exact integer (and the
    // exact rational recall@5), so a codebook-quality regression moves a
    // hash-stable CORRECTNESS row, not just a spec floor. Because s18's
    // final stage reranks its ADC pool by EXACT cosine, recall@5 is
    // precisely "how many true top-5 neighbors survived into the pool" —
    // this measures the codebook, the only unoracled stage (everything
    // else is hash-certified by s18_exhaustive ≡ s1). Determinism: both
    // rankings tie-break on (score, vec_id); codebooks are seed-fixed and
    // fold in sequential order, so n_common is bit-stable across runs and
    // partitionings. No SQL oracle by construction (k-means is not
    // SQL-expressible — the same adjudication as s2/s4/s13/s17's recall
    // rows); the row-count contract (one row per guarded query) still
    // gates, and SimilaritySpec pins the measured floor.
    // IVF×PQ — the full IVFADC composition (Jégou et al. TPAMI'11 §V):
    // the coarse quantizer routes each vector to one of NLIST cells and
    // PQ codebooks trained on the RESIDUALS (x − c_cell) store it as M
    // code bytes, so the index holds (cell, codes) — the classic
    // billion-scale serving layout. Scoring exploits the inner-product
    // decomposition  q·x̂ = q·c_cell + Σ_m q_m·book_m[code_m]: the sum
    // term is ONE M×K LUT per query (cell-independent — cheaper than
    // L2-IVFADC, which needs a LUT per probed cell), and the cell term
    // is a scalar per (q, probed cell), so a candidate scores as one
    // scalar add + M table-lookup adds in a codegen'd aggregate-HOF. The
    // IVF cut and the ADC cut compose: only vectors in the NPROBE
    // nearest cells are scored, only the top-`pool` pay an exact cosine
    // (s17's rerank tail, [[rerank]]). At 100 TB the scan reads the codes
    // table bucketed by cell; embeddings are touched only for the
    // (|Q|·pool)-row rerank via broadcast id joins. s19_exhaustive probes
    // every cell AND opens the pool, so each (q, vec) pair is scored
    // exactly once and exactly reranked — the composition collapses to
    // s1's brute force under s1's verbatim oracle (the exhaustive-twin
    // convention, fifth instance), proving the route/encode/LUT/rank
    // plumbing introduces no error beyond the documented cuts.
    "s19_ivfpq" -> ((s, d) => ivfPqKnn(s, d, ivfCells, S19_NPROBE, S19_POOL, "s19_ivfpq")),
    "s19_exhaustive" -> ((s, d) =>
      ivfPqKnn(s, d, ivfCells, NLIST, Int.MaxValue, "s19_exhaustive")
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          col("rank").as("rk"), col("cosine"))
        .orderBy(col("q_id"), col("rk"))),
    // INCREMENTAL ANN INDEX MAINTENANCE — the q69/p4 IVM theme applied to
    // the vector store (s15 tells you WHEN to retrain; this is how you
    // serve BETWEEN retrains). Yesterday's IVF-Flat index — coarse cells
    // trained on the VINTAGE sample, every vintage vector assigned — is
    // PERSISTED as a parquet table PARTITIONED BY CELL (provision-on-
    // first-use, content-fingerprint freshness), so the physical layout
    // IS the index: a query's probe set prunes partitions at the scan
    // (PlanSpec pins PartitionFilters), the IVF cut paid by the file
    // system, not a join. Today's delta vectors (past the key-span
    // cutoff, t30's idiom — the cutoff literal pushes into the embedding
    // scan) assign against the FROZEN codebook: maintenance is an
    // append-only encode of the delta, never a vintage re-scan, never a
    // retrain. Search spans base ∪ delta with exact cosine (IVF-Flat).
    // s20_exhaustive probes every cell ⇒ the probe filter vanishes, every
    // (q, vec) pair scores exactly once, and the result collapses to
    // s1's brute force under s1's VERBATIM oracle — hash equality
    // certifies the base∪delta partition is exact: a vector dropped or
    // double-indexed by the persisted layout changes the hash.
    "s20_ivf_delta" -> ((s, d) => ivfDeltaKnn(s, d, NPROBE, "s20_ivf_delta")),
    "s20_exhaustive" -> ((s, d) => ivfDeltaKnn(s, d, NLIST, "s20_exhaustive")),
    // Recall-acceptance rows, HASH-PINNED (r15 verdict item 3): each
    // reports |approx top-5 ∩ exact top-5| over the guarded query set,
    // collapsed to ONE deterministic row — (n_queries, sum_common,
    // recall_ppm, content_md5 over the sorted per-query counts) plus the
    // corpus key — and oracled by a pinned literal per certified corpus
    // (m4_geom_hash's pattern). The pipelines are bit-deterministic by
    // construction (seed-fixed codebooks, sequential LUT folds,
    // (score, vec_id) tiebreaks), so a codebook/encode/rank regression
    // now flips a CORRECTNESS hash, not just a spec floor.
    "s18_recall" -> ((s, d) =>
      recallHashRow(s, d, "s18_recall",
        ivfPqKnn(s, d, originCell, 1, 20, "s18_recall").select(col("q_id"), col("vec_id")))),
    "s19_recall" -> ((s, d) =>
      recallHashRow(s, d, "s19_recall",
        ivfPqKnn(s, d, ivfCells, S19_NPROBE, S19_POOL, "s19_recall")
          .select(col("q_id"), col("vec_id")))),
    "s20_recall" -> ((s, d) =>
      recallHashRow(s, d, "s20_recall",
        ivfDeltaKnn(s, d, NPROBE, "s20_recall")
          .select(col("q_id"), col("neighbor_id").as("vec_id"))))
  )

  /** Per-query recall counts for an approximate top-[[TOPK]] result:
    * (q_id, n_common) = |approx ∩ exact top-5| per guarded query. The
    * exact side is s1's brute force verbatim; shared by the three driver
    * recall rows and SimilaritySpec's independent recompute pin. */
  private[graft] def recallPerQuery(s: SparkSession, d: String, op: String,
      approx: DataFrame): DataFrame = {
    val exact5 = bruteScan(s, d, op).withColumn("rk", cosineRank)
      .filter(col("rk") <= TOPK)
      .select(col("q_id"), col("vec_id"))
    exact5.join(approx.withColumn("hit", lit(1L)), Seq("q_id", "vec_id"), "left")
      .groupBy(col("q_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_common"))
  }

  /** Integer corpus key (count + checksum) identifying which pinned
    * literal applies: the checksum folds each row's vec_id and the
    * first embedding component scaled to an exact integer — the SAME
    * float32 bits widen to the SAME double in Spark and DuckDB, so the
    * two engines agree bit-for-bit without ever rendering a float.
    * Non-finite/absent components fold as 0 (the adversarial corpora
    * carry hostile embeddings by design). */
  private def corpusKey(s: SparkSession, d: String): DataFrame = {
    val x = expr("try_element_at(embedding, 1)").cast("double")
    Tables.embeddings(s, d).agg(
      count(lit(1)).as("n_corpus"),
      sum(coalesce(col("vec_id"), lit(0L)) +
        coalesce(when(!isnan(x) && abs(x) < lit(1e9), floor(x * lit(1000000.0))
          .cast("bigint")), lit(0L))).as("corpus_chk"))
  }

  /** The DuckDB side of [[corpusKey]] — kept textually adjacent so the
    * two can only drift on purpose. */
  private val CorpusKeySql: String =
    """SELECT count(*) AS k_n,
      |  CAST(sum(coalesce(vec_id, 0) + coalesce(CASE
      |    WHEN isfinite(CAST(embedding[1] AS DOUBLE))
      |         AND abs(CAST(embedding[1] AS DOUBLE)) < 1e9
      |    THEN CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000000.0) AS BIGINT)
      |    END, 0)) AS BIGINT) AS k_chk
      |FROM embeddings""".stripMargin

  /** Collapse [[recallPerQuery]] to the single pinned-oracle row. */
  private def recallHashRow(s: SparkSession, d: String, op: String,
      approx: DataFrame): DataFrame = {
    val perQ = recallPerQuery(s, d, op, approx)
    val rowStr = concat_ws("", col("q_id").cast("string"),
      col("n_common").cast("string"))
    perQ.select(rowStr.as("r"), col("n_common"))
      .agg(count(lit(1)).as("n_queries"),
        sum(col("n_common")).as("sum_common"),
        md5(array_join(array_sort(collect_list(col("r"))), "\n").cast("binary"))
          .as("content_md5"))
      .withColumn("recall_ppm",
        (col("sum_common") * lit(1000000L)).cast("bigint") /
          (col("n_queries") * lit(TOPK.toLong)))
      .withColumn("recall_ppm", floor(col("recall_ppm")).cast("bigint"))
      .crossJoin(corpusKey(s, d))
      .select(lit(op).as("op"), col("n_corpus"), col("corpus_chk"),
        col("n_queries"), col("sum_common"), col("recall_ppm"),
        col("content_md5"))
  }

  /** Pinned-literal oracle for a recall row: the certified corpora's
    * (corpus key → expected row) table, filtered to the corpus actually
    * under test. An UNKNOWN corpus (e.g. a fresh testdata vintage)
    * yields ZERO oracle rows — a loud, legible row-count failure whose
    * Spark side prints the new key, so refreshing the pin is one edit. */
  private def recallPinSql(op: String,
      pins: Seq[(Long, Long, Long, Long, Long, String)]): String = {
    val rows = pins.map { case (n, chk, nq, sc, ppm, md5) =>
      s"  (CAST($n AS BIGINT), CAST($chk AS BIGINT), CAST($nq AS BIGINT), " +
        s"CAST($sc AS BIGINT), CAST($ppm AS BIGINT), '$md5')"
    }.mkString(",\n")
    s"""SELECT '$op' AS op, t.n_corpus, t.corpus_chk, t.n_queries,
       |  t.sum_common, t.recall_ppm, t.content_md5
       |FROM (VALUES
       |$rows
       |) AS t(n_corpus, corpus_chk, n_queries, sum_common, recall_ppm, content_md5),
       |  ($CorpusKeySql) k
       |WHERE t.n_corpus = k.k_n AND t.corpus_chk = k.k_chk""".stripMargin
  }

  /** Shared sign-signature Hamming-pool + exact-cosine-rerank pipeline —
    * s17 (1 table × 0 bits = one shared bucket = exhaustive, the
    * hash-oracled anchor) and s17_scale (12 × 5 disjoint chunk probing —
    * the geometry sweep table above `s17_scale` is the source of truth)
    * differ ONLY in the candidate stage, so the two can never drift.
    *
    * Scale shape: vectors NEVER shuffle — the bucketed side carries
    * (vec_id, sig, chunk) only, survivors exchange (q_id, vec_id, hamming),
    * and the rerank re-reads the corpus with the tiny pool broadcast onto
    * it (s14's hits-join-back shape). sign_pack is a native codegen
    * Expression (VecExpressions); the query set is guarded BEFORE chunk
    * expansion (the s4/s13 r13 lesson). */
  private def hammingRerank(s: SparkSession, d: String, tables: Int,
      bits: Int, op: String): DataFrame = {
    import graft.functions.VecFunctions.sign_pack
    val dim = Tables.embDim(s)
    val POOL = 20
    // Bits above 63 cannot pack into one long; the declared corpus dim
    // is 64 (bit 63 lands in the sign bit — xor/popcount don't care).
    require(dim <= 64, s"$op packs $dim sign bits > 64")
    require(tables * bits <= 64, s"$op chunks $tables×$bits exceed 64 bits")
    val e = normed(s, d).withColumn("sig", sign_pack(col("embedding")))
    val q = querySet(s, e, op, qCore(col("sig").as("q_sig")): _*)
    val byQ = Window.partitionBy(col("q_id"))
    val cands =
      if (tables == 1 && bits == 0)
        // One shared bucket: no chunk explode, no duplicate pairs to
        // dedupe — the plan is exactly pre-refactor s17's.
        e.select(col("vec_id"), col("sig"))
          .join(broadcast(q.select(col("q_id"), col("q_sig"))),
            col("vec_id") =!= col("q_id"))
      else {
        val mask = (1 << bits) - 1
        def chunks(sig: Column): Column = array((0 until tables).map(t =>
          shiftrightunsigned(sig, t * bits).bitwiseAND(lit(mask.toLong))
            .cast("int")): _*)
        val corpusB = e.select(col("vec_id"), col("sig"),
          posexplode(chunks(col("sig"))).as(Seq("t", "code")))
        val qB = q.select(col("q_id"), col("q_sig"),
          posexplode(chunks(col("q_sig"))).as(Seq("q_t", "q_code")))
        corpusB.join(broadcast(qB),
            col("t") === col("q_t") && col("code") === col("q_code") &&
              col("vec_id") =!= col("q_id"))
          // a pair agreeing in several chunks arrives once per agreement;
          // sig/q_sig are functionally determined by the pair, so any
          // surviving row is the same row.
          .dropDuplicates("q_id", "vec_id")
          .select(col("vec_id"), col("sig"), col("q_id"), col("q_sig"))
      }
    val pool = cands
      .withColumn("hamming", expr("CAST(bit_count(sig ^ q_sig) AS INT)"))
      .withColumn("hrk",
        row_number().over(byQ.orderBy(col("hamming"), col("vec_id"))))
      .filter(col("hrk") <= POOL)
      .select(col("q_id"), col("vec_id"), col("hamming"))
    rerank(e, q, pool, "hamming")
  }

  /** s19's coarse quantizer: NLIST k-means cells. */
  private val ivfCells = (sample: Array[Array[Float]]) => trainCentroids(sample, NLIST)

  /** s18's coarse quantizer: one all-zero cell. The residual against the
    * origin is x itself and q·c adds 0.0, so IVFADC over it at nprobe 1 is
    * plain PQ + ADC (books on raw sub-vectors, one LUT per query), bit for
    * bit. */
  private val originCell = (sample: Array[Array[Float]]) => Array(new Array[Double](sample(0).length))

  /** The one PQ pipeline: IVFADC — s19_ivfpq (S19_NPROBE cells, S19_POOL)
    * and s19_exhaustive (all cells, pool open ⇒ collapses to s1) differ
    * only in the two cut parameters, so the twins can never drift.
    * Residual PQ: codes quantize x − c_cell, trained on the residuals of
    * the same deterministic sample the coarse quantizer (`coarseCells`,
    * from that sample) trains on. s18 is this pipeline over
    * [[originCell]]. Determinism: fixed-seed coarse + book training,
    * sequential LUT fold, encode ties break to the lower code, ADC ties to
    * the lower vec_id, rerank ties (cosine, vec_id) — bit-stable across
    * runs and partitionings. */
  private[graft] def ivfPqKnn(s: SparkSession, d: String,
      coarseCells: Array[Array[Float]] => Array[Array[Double]], nprobe: Int, pool: Int,
      op: String): DataFrame = {
    import s.implicits._
    val dim = Tables.embDim(s)
    require(dim % PQ_M == 0, s"$op: dim $dim does not split into $PQ_M sub-spaces")
    val sub = dim / PQ_M
    val e = normed(s, d)
    val sample = trainingSample(s, e)
    require(sample.nonEmpty, s"$op: empty embedding corpus")
    val coarse = coarseCells(sample)
    // PQ books train on the RESIDUAL sample — the distribution the codes
    // will actually quantize (training on raw vectors would center every
    // sub-space book on the cell means instead of around zero).
    val resSample = sample.map { v =>
      val c = coarse(Similarity.nearestCells(v, coarse, 1)(0))
      Array.tabulate(v.length)(i => (v(i) - c(i)).toFloat)
    }
    val books = Array.tabulate(PQ_M) { mm =>
      Similarity.trainCentroids(resSample.map(_.slice(mm * sub, (mm + 1) * sub)), PQ_K)
    }
    // trainCentroids returns min(PQ_K, |sample|) centroids; every
    // sub-space trains on the same sample rows, so all books share this
    // one length, the LUT and ADC stride (a fixed-PQ_K stride would
    // misindex on a corpus smaller than PQ_K).
    val kEff = books(0).length
    val bcC = s.sparkContext.broadcast(coarse)
    val bcB = s.sparkContext.broadcast(books)
    val coded = e.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = bcC.value; val bs = bcB.value
        it.map { case (id, emb) =>
          val cell = Similarity.nearestCells(emb, cs, 1)(0)
          val c = cs(cell)
          val res = Array.tabulate(emb.length)(i =>
            (emb(i) - (if (i < c.length) c(i) else 0.0)).toFloat)
          val codes = Array.tabulate(bs.length)(mm =>
            Similarity.nearestCells(res.slice(mm * sub, (mm + 1) * sub), bs(mm), 1)(0))
          (id, cell, codes)
        }
      }.toDF("vec_id", "cell", "codes")
    val q = querySet(s, e, op, qCore(): _*)
    // Per query: ONE sub-space LUT (q_m·book_m[k], cell-independent under
    // the inner-product decomposition) + one q·c_cell scalar per probed
    // cell. |Q| × nprobe rows, broadcast onto the codes table.
    val qProbe = q.select(col("q_id"), col("q_emb")).as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = bcC.value; val bs = bcB.value
        it.flatMap { case (id, emb) =>
          val lut = new Array[Double](bs.length * kEff)
          var mm = 0
          while (mm < bs.length) {
            var kk = 0
            while (kk < bs(mm).length) {
              var dot = 0.0; var j = 0
              while (j < sub) { dot += emb(mm * sub + j) * bs(mm)(kk)(j); j += 1 }
              lut(mm * kEff + kk) = dot
              kk += 1
            }
            mm += 1
          }
          Similarity.nearestCells(emb, cs, nprobe).map { cell =>
            var qc = 0.0; var j = 0
            val c = cs(cell); val lim = math.min(emb.length, c.length)
            while (j < lim) { qc += emb(j) * c(j); j += 1 }
            (id, cell, qc, lut)
          }
        }
      }.toDF("q_id", "cell", "qdotc", "lut")
    val byQ = Window.partitionBy(col("q_id"))
    // One cell per corpus vector + distinct probed cells per query ⇒ each
    // (q, vec) pair joins at most once (s4's no-dedup argument).
    val poolDf = coded.join(broadcast(qProbe), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("adc", col("qdotc") + expr(
        s"aggregate(sequence(0, ${PQ_M - 1}), CAST(0 AS DOUBLE), " +
          s"(acc, i) -> acc + element_at(lut, i * $kEff + element_at(codes, i + 1) + 1))"))
      .withColumn("prk",
        row_number().over(byQ.orderBy(col("adc").desc, col("vec_id"))))
      .filter(col("prk") <= pool)
      .select(col("q_id"), col("vec_id"), col("adc"))
    rerank(e, q, poolDf, "adc")
  }

  /** Shared incremental-index pipeline — see the s20 map entries. The
    * vintage index persists (vec_id, embedding, sq) partitioned by cell;
    * the probe union across the guarded query set becomes a literal
    * partition filter (queries are broadcast-bounded by contract, so
    * collecting them to derive the probe set is the same driver cost the
    * broadcast already pays). Determinism: fixed-seed training on the
    * vintage sample, assignment ties to the lower cell, rank ties
    * (cosine, vec_id). */
  private def ivfDeltaKnn(s: SparkSession, d: String, nprobe: Int,
      op: String): DataFrame = {
    import s.implicits._
    val e = normed(s, d).select(col("vec_id"), col("embedding"), col("sq"))
    // The cutoff and the codebook are the index's state: the build derives
    // them once and keeps them in the layout's marker — the cut on the
    // first line, then one centroid per line as the hex of each double's
    // raw bits, so a warm call reads back bit-identical centroids and runs
    // no bounds, sample or training job. The version carries the declared
    // dimension: `validEmbeddings` filters on it, so another dim is another
    // valid set, hence another vintage and codebook.
    val vintage = Tables.derivedLayout(s, s.conf.get("spark.sql.warehouse.dir"),
        "ann_vintage", d, Seq("embeddings"), s"ann2:d${Tables.embDim(s)}") { dir =>
      val Array(lo, hi) = e.agg(min(col("vec_id")), max(col("vec_id")))
        .collect()(0).toSeq.map(v => v.asInstanceOf[Long]).toArray
      // Vintage = first 15/16 of the key span (t30's cutoff idiom); the
      // literal folds into the delta scan's pushed filter.
      val cut = lo + ((hi - lo) / 16L) * 15L
      val sample = trainingSample(s, e.filter(col("vec_id") <= cut))
      require(sample.nonEmpty, s"$op: empty vintage")
      val cents = Similarity.trainCentroids(sample, NLIST)
      assignCells(s, e.filter(col("vec_id") <= cut), cents)
        .write.mode("overwrite").partitionBy("cell").parquet(dir.toString)
      (cut.toString +: cents.map(_.map(v =>
        java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(v))).mkString(",")))
        .mkString("\n")
    }
    val state = vintage.state.split("\n")
    val cut = state.head.toLong
    val cents = state.tail.map(_.split(",").map(h =>
      java.lang.Double.longBitsToDouble(java.lang.Long.parseUnsignedLong(h, 16))))
    val qRows = querySet(s, e, op, qCore(): _*)
      .as[(Long, Array[Float], Double)].collect()
    val probed: Array[(Long, Array[Float], Double, Int)] = qRows.flatMap {
      case (id, emb, sq) =>
        Similarity.nearestCells(emb, cents, nprobe).map(c => (id, emb, sq, c))
    }
    val probeCells = probed.map(_._4).distinct.sorted
    val qProbe = s.createDataFrame(
      s.sparkContext.parallelize(probed.toIndexedSeq, 1)
        .map { case (id, emb, sq, c) => org.apache.spark.sql.Row(id, emb, sq, c) },
      new org.apache.spark.sql.types.StructType()
        .add("q_id", "long").add("q_emb", "array<float>")
        .add("q_sq", "double").add("cell", "int"))
    // Base: the persisted index, probe set as a LITERAL partition filter
    // (pruned at the scan). Delta: frozen-codebook assignment of the
    // post-cutoff rows only, the cutoff pushed to the embedding scan.
    val base = Tables.parquet(s, vintage.dir.toString)
      .filter(col("cell").isin(probeCells.map(Int.box): _*))
      .select(col("vec_id"), col("embedding"), col("sq"), col("cell"))
    val delta = assignCells(s, e.filter(col("vec_id") > cut), cents)
      .filter(col("cell").isin(probeCells.map(Int.box): _*))
    topK(base.unionByName(delta)
      .join(broadcast(qProbe), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cosine", cosineCol))
  }

  /** The certified-corpus pin table for the three recall rows:
    * corpus key (n_corpus, corpus_chk) → (n_queries, sum_common,
    * recall_ppm, content_md5). Computed by running the row itself on
    * each gate corpus (driver testdata sf0.001/sf0.01/sf0.1, GenData
    * sf1, and the two gen_adversarial.py corpora); a NEW corpus fails
    * the row legibly (zero oracle rows) and the Spark output carries
    * the fresh key + hash, so re-pinning is one edit here. */
  private val RecallPins: Map[String, Seq[(Long, Long, Long, Long, Long, String)]] = Map(
    "s18_recall" -> Seq( // (n_corpus, corpus_chk, n_queries, sum_common, recall_ppm, md5)
      (500L, -1339442L, 10L, 28L, 560000L, "75216c805fbdba84219a20c57e5cbace"),
      (500L, 1206862L, 10L, 30L, 600000L, "e3eed29e2ddbbae649cbe78a6649ab84"),
      (2000L, 3528806L, 40L, 67L, 335000L, "28677693014e39678d72e67b9e20e49d"),
      (8000L, 25148987L, 160L, 136L, 170000L, "2a757fccfcdce20aba5679bfacc53658"),
      (515L, 3018715L, 10L, 35L, 700000L, "8ecd1dd1f9cdec59154c73a91389586d"),
      (8015L, 26985664L, 160L, 137L, 171250L, "7c650ab63cccec759754fc05fa2948bf")),
    "s19_recall" -> Seq( // r16 pins at the (nprobe 8, pool 40) operating point
      (500L, -1339442L, 10L, 33L, 660000L, "13ccf33071842a633e67f73ee8699a63"),
      (500L, 1206862L, 10L, 28L, 560000L, "8eadf9f7dfc618784314906945d0a65c"),
      (2000L, 3528806L, 40L, 102L, 510000L, "9e51afdd0a62813fe7f3f44ab9ea33ff"),
      (8000L, 25148987L, 160L, 260L, 325000L, "306443f28667acf3e150dc3f92dbb810"),
      (515L, 3018715L, 10L, 39L, 780000L, "0afed1b8b1a27686dac4f684ca89617a"),
      (8015L, 26985664L, 160L, 261L, 326250L, "03c7ee7d70425497e66a1d076a5390a3")),
    "s20_recall" -> Seq(
      (500L, -1339442L, 10L, 30L, 600000L, "2cff1258952ba3e8cfdaea9ca1c63cb9"),
      (500L, 1206862L, 10L, 26L, 520000L, "668420bdd529687837dfba75c051a106"),
      (2000L, 3528806L, 40L, 110L, 550000L, "08d84f4dedbdda3b65fb206518fe96d4"),
      (8000L, 25148987L, 160L, 438L, 547500L, "6a2e449f61abdb74b9efe7fe57adff35"),
      (515L, 3018715L, 10L, 26L, 520000L, "b42db8f21049469f710f8441837d06ab"),
      (8015L, 26985664L, 160L, 439L, 548750L, "48e3884b1ac736bbd8bfd1aeedde6486"))
  )

  def oracle: Map[String, String] =
    RecallPins.map { case (op, pins) => op -> recallPinSql(op, pins) } ++ Map(
    "s10_vec_validity" ->
      """SELECT count(*) AS n_total,
        |  CAST(sum(CASE WHEN vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_vec_id,
        |  CAST(sum(CASE WHEN label IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_label,
        |  CAST(sum(CASE WHEN embedding IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_emb,
        |  CAST(sum(CASE WHEN embedding IS NOT NULL AND len(embedding) <> 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_wrong_dim,
        |  CAST(sum(CASE WHEN embedding IS NOT NULL
        |    AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) > 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_non_finite,
        |  CAST(sum(CASE WHEN embedding IS NOT NULL
        |    AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
        |    AND len(list_filter(embedding, x -> x <> 0)) = 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_norm,
        |  CAST(sum(CASE WHEN vec_id IS NOT NULL AND label IS NOT NULL
        |    AND embedding IS NOT NULL AND len(embedding) = 64
        |    AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
        |    AND len(list_filter(embedding, x -> x <> 0)) > 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_valid
        |FROM embeddings""".stripMargin,
    "s1_knn_brute" -> BRUTE_KNN_SQL,
    // s4 at NPROBE = NLIST equals exact brute force over the same query
    // set and the same double expression tree — s1's SQL verbatim is the
    // oracle (the s13_exhaustive pattern on the float path).
    "s4_exhaustive" -> BRUTE_KNN_SQL,
    // PQ with the pool cut open reranks EVERY candidate exactly: the ADC
    // ordering cancels out and the answer is s1's brute force — s1's SQL
    // verbatim oracles the codebook/encode/LUT plumbing.
    "s18_exhaustive" -> BRUTE_KNN_SQL,
    // IVFADC probing every cell with the pool open: each (q, vec) pair is
    // scored once and exactly reranked, so the coarse routing AND the
    // residual-PQ ordering cancel — the fifth quantization family with a
    // hash-oracled exhaustive anchor under s1's verbatim SQL.
    "s19_exhaustive" -> BRUTE_KNN_SQL,
    // The incremental index probing every cell: the probe filter admits
    // everything, scoring is exact IVF-Flat cosine, so the result is
    // brute force — hash equality additionally certifies the persisted
    // base ∪ frozen-codebook delta covers every vector exactly once.
    "s20_exhaustive" -> BRUTE_KNN_SQL,
    // s2 at 1 table × 0 bits: one shared bucket ⇒ the bucket join IS
    // brute force — the same verbatim oracle certifies the sign-LSH
    // code/bucket/rank plumbing.
    "s2_exhaustive" -> BRUTE_KNN_SQL,
    "s5_centroid_outliers" ->
      s"""WITH comp AS (
        |  SELECT label, s.pos, s.xq
        |  FROM (SELECT label, unnest(list_transform(embedding,
        |          (x, i) -> struct_pack(pos := i, xq := CAST(CAST(x AS VARCHAR) AS DECIMAL(38,6))))) AS s
        |        FROM ${graft.Tables.validEmbSql} embeddings)
        |), cent AS (
        |  SELECT label, pos, sum(xq) AS sx FROM comp GROUP BY 1, 2
        |), cvecs AS (
        |  SELECT label, list(CAST(CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS REAL) ORDER BY pos) AS cvec
        |  FROM cent GROUP BY 1
        |), scored AS (
        |  SELECT e.label, e.vec_id,
        |    (SELECT sum(CAST(p.v AS DOUBLE)) FROM unnest(
        |       list_transform(list_zip(e.embedding, c.cvec),
        |                      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) p(v))
        |    / (sqrt((SELECT sum(CAST(u.x AS DOUBLE) * CAST(u.x AS DOUBLE)) FROM unnest(e.embedding) u(x)))
        |       * sqrt((SELECT sum(CAST(u.x AS DOUBLE) * CAST(u.x AS DOUBLE)) FROM unnest(c.cvec) u(x)))) AS cosine
        |  FROM ${graft.Tables.validEmbSql} e JOIN cvecs c USING (label)
        |), ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY label ORDER BY cosine ASC, vec_id) AS rk
        |  FROM scored)
        |SELECT label, vec_id, rk, cosine FROM ranked
        |WHERE rk <= 5 ORDER BY label, rk""".stripMargin,
    "s3_label_median_norm" ->
      s"""WITH e AS (
        |  SELECT label,
        |    (SELECT sum(CAST(u.x AS DOUBLE) * CAST(u.x AS DOUBLE)) FROM unnest(embedding) u(x)) AS norm_sq
        |  FROM ${graft.Tables.validEmbSql} embeddings)
        |SELECT label, median(norm_sq) AS median_norm_sq, count(*) AS n
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,
    // s1's scored/ranked CTEs at rk ≤ 2, collapsed to a margin per query.
    "s7_margin_mining" ->
      s"""WITH e AS (
        |  SELECT vec_id, embedding,
        |    (SELECT sum(CAST(u.x AS DOUBLE) * CAST(u.x AS DOUBLE)) FROM unnest(embedding) u(x)) AS sq
        |  FROM ${graft.Tables.validEmbSql} embeddings),
        |scored AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
        |    (SELECT sum(CAST(p.v AS DOUBLE)) FROM unnest(
        |       list_transform(list_zip(q.embedding, c.embedding),
        |                      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) p(v))
        |      / (sqrt(q.sq) * sqrt(c.sq)) AS cosine
        |  FROM e q JOIN e c ON q.vec_id % 50 = 0 AND c.vec_id <> q.vec_id),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rk
        |  FROM scored)
        |SELECT q_id,
        |  max(CASE WHEN rk = 1 THEN neighbor_id END) AS best_id,
        |  max(CASE WHEN rk = 1 THEN cosine END) AS cos1,
        |  max(CASE WHEN rk = 2 THEN cosine END) AS cos2,
        |  max(CASE WHEN rk = 1 THEN cosine END) - max(CASE WHEN rk = 2 THEN cosine END) AS margin
        |FROM ranked WHERE rk <= 2
        |GROUP BY q_id ORDER BY q_id""".stripMargin,
    "s8_knn_accuracy" ->
      s"""WITH e AS (
        |  SELECT vec_id, label, embedding,
        |    (SELECT sum(CAST(u.x AS DOUBLE) * CAST(u.x AS DOUBLE)) FROM unnest(embedding) u(x)) AS sq
        |  FROM ${graft.Tables.validEmbSql} embeddings),
        |scored AS (
        |  SELECT q.vec_id AS q_id, q.label AS q_label, c.vec_id AS neighbor_id, c.label AS c_label,
        |    (SELECT sum(CAST(p.v AS DOUBLE)) FROM unnest(
        |       list_transform(list_zip(q.embedding, c.embedding),
        |                      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) p(v))
        |      / (sqrt(q.sq) * sqrt(c.sq)) AS cosine
        |  FROM e q JOIN e c ON q.vec_id % 50 = 0 AND c.vec_id <> q.vec_id),
        |best AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rk
        |    FROM scored) t
        |  WHERE rk = 1)
        |SELECT q_label AS label, count(*) AS n_q,
        |  CAST(sum(CASE WHEN c_label = q_label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
        |  CAST(CAST(sum(CASE WHEN c_label = q_label THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS accuracy
        |FROM best GROUP BY 1 ORDER BY 1""".stripMargin,
    "s9_triplet_mining" ->
      s"""WITH e AS (
        |  SELECT vec_id, label, embedding,
        |    (SELECT sum(CAST(u.x AS DOUBLE) * CAST(u.x AS DOUBLE)) FROM unnest(embedding) u(x)) AS sq
        |  FROM ${graft.Tables.validEmbSql} embeddings),
        |scored AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
        |    c.label = q.label AS same,
        |    (SELECT sum(CAST(p.v AS DOUBLE)) FROM unnest(
        |       list_transform(list_zip(q.embedding, c.embedding),
        |                      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) p(v))
        |      / (sqrt(q.sq) * sqrt(c.sq)) AS cosine
        |  FROM e q JOIN e c ON q.vec_id % 50 = 0 AND c.vec_id <> q.vec_id),
        |best AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id, same
        |      ORDER BY cosine DESC, neighbor_id) AS rk
        |    FROM scored) t
        |  WHERE rk = 1)
        |SELECT q_id,
        |  max(CASE WHEN same THEN neighbor_id END) AS pos_id,
        |  max(CASE WHEN same THEN cosine END) AS cos_pos,
        |  max(CASE WHEN NOT same THEN neighbor_id END) AS neg_id,
        |  max(CASE WHEN NOT same THEN cosine END) AS cos_neg,
        |  max(CASE WHEN same THEN cosine END) - max(CASE WHEN NOT same THEN cosine END) AS margin
        |FROM best GROUP BY 1 ORDER BY 1""".stripMargin,
    // s5's centroid CTEs verbatim, then the k² pairwise cosine.
    "s6_centroid_sim" ->
      s"""WITH comp AS (
        |  SELECT label, s.pos, s.xq
        |  FROM (SELECT label, unnest(list_transform(embedding,
        |          (x, i) -> struct_pack(pos := i, xq := CAST(CAST(x AS VARCHAR) AS DECIMAL(38,6))))) AS s
        |        FROM ${graft.Tables.validEmbSql} embeddings)
        |), cent AS (
        |  SELECT label, pos, sum(xq) AS sx FROM comp GROUP BY 1, 2
        |), cvecs AS (
        |  SELECT label, list(CAST(CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS REAL) ORDER BY pos) AS cvec
        |  FROM cent GROUP BY 1)
        |SELECT a.label AS label_a, b.label AS label_b,
        |  (SELECT sum(CAST(p.v AS DOUBLE)) FROM unnest(
        |     list_transform(list_zip(a.cvec, b.cvec),
        |                    z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) p(v))
        |  / (sqrt((SELECT sum(CAST(u.x AS DOUBLE) * CAST(u.x AS DOUBLE)) FROM unnest(a.cvec) u(x)))
        |     * sqrt((SELECT sum(CAST(u.x AS DOUBLE) * CAST(u.x AS DOUBLE)) FROM unnest(b.cvec) u(x)))) AS cosine
        |FROM cvecs a JOIN cvecs b ON a.label < b.label
        |ORDER BY label_a, label_b""".stripMargin,
    // Mirrors s11 step for step: per-dim float max-abs stats (exact, no
    // summation), the same mul-then-div double chain, floor-half-up, and
    // the q·m/127 reconstruction — every op IEEE-deterministic on both
    // engines.
    "s11_sq8_quantize" ->
      s"""WITH comp AS (
        |  SELECT s.pos, s.ax
        |  FROM (SELECT unnest(list_transform(embedding,
        |          (x, i) -> struct_pack(pos := i, ax := abs(x)))) AS s
        |        FROM ${graft.Tables.validEmbSql} embeddings)),
        |dim AS (SELECT pos, max(ax) AS m FROM comp GROUP BY 1),
        |stats AS (SELECT list(m ORDER BY pos) AS maxabs FROM dim),
        |quant AS (
        |  SELECT e.vec_id, e.embedding, st.maxabs,
        |    list_transform(list_zip(e.embedding, st.maxabs),
        |      z -> CASE WHEN z[2] = 0 THEN 0
        |           ELSE CAST(floor(CAST(z[1] AS DOUBLE) * 127.0 / CAST(z[2] AS DOUBLE) + 0.5) AS INTEGER) END) AS qvec
        |  FROM ${graft.Tables.validEmbSql} e CROSS JOIN stats st)
        |SELECT vec_id, array_to_string(qvec, ',') AS qvec_csv,
        |  list_max(list_transform(list_zip(embedding, qvec, maxabs),
        |    z -> abs(CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE) * CAST(z[3] AS DOUBLE) / 127.0))) AS max_abs_err
        |FROM quant ORDER BY vec_id""".stripMargin,
    // s1's exact scored CTE and s11's quantized twin ranked side by side;
    // the integer dots are exact, so both rankings are deterministic under
    // the (cosine, vec_id) tie-break. cos_q's zero-norm division yields
    // NULL natively here (DuckDB x/0), matching the Spark when() guard.
    "s12_sq8_recall" ->
      s"""WITH comp AS (
        |  SELECT s.pos, s.ax
        |  FROM (SELECT unnest(list_transform(embedding,
        |          (x, i) -> struct_pack(pos := i, ax := abs(x)))) AS s
        |        FROM ${graft.Tables.validEmbSql} embeddings)),
        |dim AS (SELECT pos, max(ax) AS m FROM comp GROUP BY 1),
        |stats AS (SELECT list(m ORDER BY pos) AS maxabs FROM dim),
        |e AS (
        |  SELECT vec_id, embedding,
        |    (SELECT sum(CAST(u.x AS DOUBLE) * CAST(u.x AS DOUBLE)) FROM unnest(embedding) u(x)) AS sq
        |  FROM ${graft.Tables.validEmbSql} embeddings),
        |coded AS (
        |  SELECT e.vec_id, e.embedding, e.sq,
        |    list_transform(list_zip(e.embedding, st.maxabs),
        |      z -> CASE WHEN z[2] = 0 THEN 0
        |           ELSE CAST(floor(CAST(z[1] AS DOUBLE) * 127.0 / CAST(z[2] AS DOUBLE) + 0.5) AS INTEGER) END) AS qvec
        |  FROM e CROSS JOIN stats st),
        |coded2 AS (
        |  SELECT *, (SELECT CAST(sum(CAST(u.q AS BIGINT) * CAST(u.q AS BIGINT)) AS BIGINT)
        |             FROM unnest(qvec) u(q)) AS qsq
        |  FROM coded),
        |scored AS (
        |  SELECT q.vec_id AS q_id, c.vec_id,
        |    (SELECT sum(CAST(p.v AS DOUBLE)) FROM unnest(
        |       list_transform(list_zip(q.embedding, c.embedding),
        |                      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) p(v))
        |      / (sqrt(q.sq) * sqrt(c.sq)) AS cos_e,
        |    CAST((SELECT CAST(sum(CAST(p.v AS BIGINT)) AS BIGINT) FROM unnest(
        |       list_transform(list_zip(q.qvec, c.qvec),
        |                      z -> CAST(z[1] AS BIGINT) * CAST(z[2] AS BIGINT))) p(v)) AS DOUBLE)
        |      / (sqrt(CAST(q.qsq AS DOUBLE)) * sqrt(CAST(c.qsq AS DOUBLE))) AS cos_q
        |  FROM coded2 q JOIN coded2 c ON q.vec_id % 50 = 0 AND c.vec_id <> q.vec_id),
        |ranked AS (
        |  SELECT q_id, vec_id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos_e DESC, vec_id) AS rk_e,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos_q DESC NULLS LAST, vec_id) AS rk_q
        |  FROM scored)
        |SELECT q_id,
        |  CAST(sum(CASE WHEN rk_e <= 5 AND rk_q <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
        |  CAST(sum(CASE WHEN rk_e <= 5 AND rk_q <= 5 THEN 1 ELSE 0 END) AS DOUBLE) / 5.0 AS recall_at_5
        |FROM ranked GROUP BY 1 ORDER BY 1""".stripMargin,
    // The exhaustive-probe twin of s13: with every cell probed, IVF×int8
    // collapses to int8-exact brute force, so the oracle is s12's
    // quantized scoring ranked on its own — integer dots are exact, the
    // double norm chain is IEEE-identical on both engines, and the
    // (cosine DESC NULLS LAST, vec_id) tie-break totalizes the order.
    "s13_exhaustive" ->
      s"""WITH comp AS (
        |  SELECT s.pos, s.ax
        |  FROM (SELECT unnest(list_transform(embedding,
        |          (x, i) -> struct_pack(pos := i, ax := abs(x)))) AS s
        |        FROM ${graft.Tables.validEmbSql} embeddings)),
        |dim AS (SELECT pos, max(ax) AS m FROM comp GROUP BY 1),
        |stats AS (SELECT list(m ORDER BY pos) AS maxabs FROM dim),
        |coded AS (
        |  SELECT e.vec_id,
        |    list_transform(list_zip(e.embedding, st.maxabs),
        |      z -> CASE WHEN z[2] = 0 THEN 0
        |           ELSE CAST(floor(CAST(z[1] AS DOUBLE) * 127.0 / CAST(z[2] AS DOUBLE) + 0.5) AS INTEGER) END) AS qvec
        |  FROM ${graft.Tables.validEmbSql} e CROSS JOIN stats st),
        |coded2 AS (
        |  SELECT *, (SELECT CAST(sum(CAST(u.q AS BIGINT) * CAST(u.q AS BIGINT)) AS BIGINT)
        |             FROM unnest(qvec) u(q)) AS qsq
        |  FROM coded),
        |scored AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
        |    CASE WHEN sqrt(CAST(q.qsq AS DOUBLE)) * sqrt(CAST(c.qsq AS DOUBLE)) <> 0 THEN
        |      CAST((SELECT CAST(sum(CAST(p.v AS BIGINT)) AS BIGINT) FROM unnest(
        |         list_transform(list_zip(q.qvec, c.qvec),
        |                        z -> CAST(z[1] AS BIGINT) * CAST(z[2] AS BIGINT))) p(v)) AS DOUBLE)
        |        / (sqrt(CAST(q.qsq AS DOUBLE)) * sqrt(CAST(c.qsq AS DOUBLE))) END AS cosine
        |  FROM coded2 q JOIN coded2 c ON q.vec_id % 50 = 0 AND c.vec_id <> q.vec_id),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC NULLS LAST, neighbor_id) AS rk
        |  FROM scored)
        |SELECT q_id, neighbor_id, rk, cosine FROM ranked
        |WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin,
    // s1's scored/ranked CTEs at rk ≤ 3, joined back to the validated
    // document store on the shared id space.
    "s14_rag_retrieve" ->
      s"""WITH e AS (
        |  SELECT vec_id, embedding,
        |    (SELECT sum(CAST(u.x AS DOUBLE) * CAST(u.x AS DOUBLE)) FROM unnest(embedding) u(x)) AS sq
        |  FROM ${graft.Tables.validEmbSql} embeddings),
        |scored AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS doc_id,
        |    (SELECT sum(CAST(p.v AS DOUBLE)) FROM unnest(
        |       list_transform(list_zip(q.embedding, c.embedding),
        |                      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) p(v))
        |      / (sqrt(q.sq) * sqrt(c.sq)) AS cosine
        |  FROM e q JOIN e c ON q.vec_id % 50 = 0 AND c.vec_id <> q.vec_id),
        |hits AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, doc_id) AS rk
        |    FROM scored) t
        |  WHERE rk <= 3)
        |SELECT h.q_id, h.rk, h.doc_id, d.lang, d.source, h.cosine
        |FROM hits h JOIN ${graft.Tables.validDocsSql} d ON h.doc_id = d.doc_id
        |ORDER BY h.q_id, h.rk""".stripMargin,
    // s15: sign-bit cells are exact on both engines (1-indexed list access
    // in DuckDB); shares/lift reuse the already-computed doubles so the
    // expression trees match the Spark side operation-for-operation.
    "s15_embedding_drift" ->
      s"""WITH e AS (
        |  SELECT vec_id,
        |    ${(0 until DRIFT_BITS).map(i => s"(CASE WHEN embedding[${i + 1}] > 0 THEN ${1 << i} ELSE 0 END)").mkString(" + ")} AS cell
        |  FROM ${graft.Tables.validEmbSql} embeddings),
        |c AS (
        |  SELECT cell,
        |    CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
        |    CAST(sum(CASE WHEN vec_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_new
        |  FROM e GROUP BY 1),
        |w AS (
        |  SELECT *, CAST(sum(n_old) OVER () AS BIGINT) AS t_old,
        |    CAST(sum(n_new) OVER () AS BIGINT) AS t_new FROM c),
        |sh AS (
        |  SELECT *,
        |    CASE WHEN t_old <> 0 THEN CAST(n_old AS DOUBLE) / CAST(t_old AS DOUBLE) END AS share_old,
        |    CASE WHEN t_new <> 0 THEN CAST(n_new AS DOUBLE) / CAST(t_new AS DOUBLE) END AS share_new
        |  FROM w),
        |l AS (
        |  SELECT *, CASE WHEN share_old > 0 THEN share_new / share_old END AS lift FROM sh)
        |SELECT cell, n_old, n_new, share_old, share_new, lift,
        |  CAST(CASE WHEN n_old = 0 OR n_new = 0 OR lift > 2.0 OR lift < 0.5
        |            THEN 1 ELSE 0 END AS BIGINT) AS drifted
        |FROM l ORDER BY cell""".stripMargin,
    // Mirrors s16 step for step on the declared 64-dim domain (prefixes
    // 16/32): the same sequential double fold for every dot (s1
    // precedent), the same NULL prefix-zero-norm guard (DuckDB x/0), the
    // same (cosine DESC NULLS LAST, vec_id) tie-break, so all three
    // rankings — and the recall counts — are bit-identical.
    "s16_prefix_recall" ->
      s"""WITH e AS (
        |  SELECT vec_id, embedding,
        |    embedding[1:16] AS emb1, embedding[1:32] AS emb2,
        |    (SELECT sum(CAST(u.x AS DOUBLE) * CAST(u.x AS DOUBLE)) FROM unnest(embedding) u(x)) AS sq,
        |    (SELECT sum(CAST(u.x AS DOUBLE) * CAST(u.x AS DOUBLE)) FROM unnest(embedding[1:16]) u(x)) AS sq1,
        |    (SELECT sum(CAST(u.x AS DOUBLE) * CAST(u.x AS DOUBLE)) FROM unnest(embedding[1:32]) u(x)) AS sq2
        |  FROM ${graft.Tables.validEmbSql} embeddings),
        |scored AS (
        |  SELECT q.vec_id AS q_id, c.vec_id,
        |    (SELECT sum(CAST(p.v AS DOUBLE)) FROM unnest(
        |       list_transform(list_zip(q.embedding, c.embedding),
        |                      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) p(v))
        |      / (sqrt(q.sq) * sqrt(c.sq)) AS cos_f,
        |    CASE WHEN q.sq1 <> 0 AND c.sq1 <> 0 THEN
        |      (SELECT sum(CAST(p.v AS DOUBLE)) FROM unnest(
        |         list_transform(list_zip(q.emb1, c.emb1),
        |                        z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) p(v))
        |        / (sqrt(q.sq1) * sqrt(c.sq1)) END AS cos_1,
        |    CASE WHEN q.sq2 <> 0 AND c.sq2 <> 0 THEN
        |      (SELECT sum(CAST(p.v AS DOUBLE)) FROM unnest(
        |         list_transform(list_zip(q.emb2, c.emb2),
        |                        z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) p(v))
        |        / (sqrt(q.sq2) * sqrt(c.sq2)) END AS cos_2
        |  FROM e q JOIN e c ON q.vec_id % 50 = 0 AND c.vec_id <> q.vec_id),
        |ranked AS (
        |  SELECT q_id, vec_id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos_f DESC, vec_id) AS rk_f,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos_1 DESC NULLS LAST, vec_id) AS rk_1,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos_2 DESC NULLS LAST, vec_id) AS rk_2
        |  FROM scored)
        |SELECT q_id,
        |  CAST(sum(CASE WHEN rk_f <= 5 AND rk_1 <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_common_q,
        |  CAST(sum(CASE WHEN rk_f <= 5 AND rk_2 <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_common_h,
        |  CAST(sum(CASE WHEN rk_f <= 5 AND rk_1 <= 5 THEN 1 ELSE 0 END) AS DOUBLE) / 5.0 AS recall_quarter,
        |  CAST(sum(CASE WHEN rk_f <= 5 AND rk_2 <= 5 THEN 1 ELSE 0 END) AS DOUBLE) / 5.0 AS recall_half
        |FROM ranked GROUP BY 1 ORDER BY 1""".stripMargin,
    // Hamming as the COUNT of sign-disagreeing dimensions over list_zip —
    // the positional form of the engine's packed xor+popcount (same
    // function, no 64-bit packing needed SQL-side); pool and rerank
    // windows mirror the engine's two-stage cut.
    "s17_hamming_rerank" ->
      s"""WITH e AS (
        |  SELECT vec_id, embedding,
        |    (SELECT sum(CAST(u.x AS DOUBLE) * CAST(u.x AS DOUBLE)) FROM unnest(embedding) u(x)) AS sq
        |  FROM ${graft.Tables.validEmbSql} embeddings),
        |ham AS (
        |  SELECT q.vec_id AS q_id, c.vec_id,
        |    CAST(len(list_filter(list_zip(q.embedding, c.embedding),
        |                         z -> (z[1] > 0) <> (z[2] > 0))) AS INT) AS hamming
        |  FROM e q JOIN e c ON q.vec_id % 50 = 0 AND c.vec_id <> q.vec_id),
        |pool AS (
        |  SELECT q_id, vec_id, hamming,
        |    row_number() OVER (PARTITION BY q_id ORDER BY hamming, vec_id) AS hrk
        |  FROM ham),
        |rr AS (
        |  SELECT p.q_id, p.vec_id, p.hamming,
        |    (SELECT sum(CAST(x.v AS DOUBLE)) FROM unnest(
        |       list_transform(list_zip(q.embedding, c.embedding),
        |                      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) x(v))
        |      / (sqrt(q.sq) * sqrt(c.sq)) AS cosine
        |  FROM pool p
        |  JOIN e q ON q.vec_id = p.q_id
        |  JOIN e c ON c.vec_id = p.vec_id
        |  WHERE p.hrk <= 20),
        |ranked AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS INT) AS rank
        |  FROM rr)
        |SELECT q_id, rank, vec_id, hamming, cosine FROM ranked
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
  )
}
