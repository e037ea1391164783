package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import scala.reflect.runtime.universe.TypeTag

/** Deduplication operators over `documents` (SURVEY.md §2.4 LLM-pipeline
  * extensions): exact, fingerprint, MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Scale design (100 TB): nothing here is quadratic in the corpus.
  *  - exact / fingerprint dedup: one hash-shuffle on the (short) digest, never
  *    on the document body.
  *  - MinHash+LSH: per-doc signatures (linear scan), banding, and a shuffle
  *    keyed on (band, signature) so only colliding docs ever meet; exact
  *    Jaccard verification runs on candidate pairs only.
  *  - SimHash: per-doc 64-bit sketch via higher-order functions (no explode),
  *    then 16-bit-chunk banding (Hamming ≤ 3 ⇒ one of four chunks equal —
  *    pigeonhole) to keep the pair join linear.
  *  - n-gram Jaccard: inverted-index join on shingles (pairs sharing ≥ 1
  *    shingle), not all-pairs.
  * All hashing is `xxhash64` (deterministic across runs/executors).
  */
object Dedup {

  private val NUM_HASHES = 32
  private val BANDS = 8 // 4 rows per band

  // d7 sign-LSH geometry: L tables of k hyperplane sign-bits over the
  // 64-dim embeddings (deterministic fixed-seed planes, same every run).
  //
  // r11: the geometry is THRESHOLD-CONDITIONED. For a pair at exactly the
  // cosine threshold θ, per-bit sign agreement is p = 1 − acos(θ)/π
  // (Goemans–Williamson), so an L-table/k-bit scheme collides it with
  // probability ≥ 1 − (1 − p^k)^L. `d7Geometry` picks the LARGEST k whose
  // analytic recall floor still meets the configured target — the most
  // selective geometry that keeps recall, because random-pair collisions
  // (per-bit ~0.5) fall 2× per added bit while near-pair recall falls
  // only by factor p. The analytic floor tracks measurement: θ=0.3 →
  // k=4 (floor 0.886, r10 measured 0.89); θ=0.8 → k=8 (floor 0.938,
  // r10 measured 0.94, random collisions cut 16×).
  //
  // Production config at high density (the r10 verdict's d7 boundary):
  // sign-LSH pays off at TIGHT thresholds — `signLshPairs` at θ=0.8 with
  // the bits d7Geometry(0.8, 16, 0.9) derives: 8-bit tables keep the
  // candidate volume 16× below the r10 fixed-4-bit geometry, passing the
  // candidate guard at sf100 density where 4-bit tables degenerate to the
  // full pair set. At the LOOSE d7 query's θ=0.3 (where p=0.597 makes
  // every added bit cost 40% recall for a 2× prune), no (k, L) prunes
  // without gutting recall — there the guard's d6 fallback remains the
  // honest answer (BENCHNOTES r10/r11).
  //
  // All geometries slice one fixed 256-plane pool (seed unchanged), so the
  // d7 query (θ=0.3, target 0.85 → k=4, L=16) reproduces r10's codes
  // bit-for-bit and every geometry is deterministic across runs.
  private val D7_THRESHOLD = 0.3
  private val D7_TABLES = 16
  private val D7_TARGET_RECALL = 0.85
  private val D7_MAX_BITS = 16
  private[queries] lazy val d7Planes: Array[Array[Double]] = {
    val rnd = new scala.util.Random(7)
    Array.fill(D7_TABLES * D7_MAX_BITS, 64)(if (rnd.nextBoolean()) 1.0 else -1.0)
  }

  /** Largest bit count k ≤ [[D7_MAX_BITS]] whose analytic recall floor
    * 1 − (1 − p^k)^tables at the threshold meets `targetRecall`
    * (p = 1 − acos(θ)/π). Monotone: tighter thresholds admit more bits. */
  private[graft] def d7Geometry(threshold: Double, tables: Int, targetRecall: Double): Int = {
    val p = 1.0 - math.acos(threshold) / math.Pi
    def recallFloor(k: Int): Double =
      1.0 - math.pow(1.0 - math.pow(p, k.toDouble), tables.toDouble)
    (1 to D7_MAX_BITS).takeWhile(k => recallFloor(k) >= targetRecall).lastOption.getOrElse(1)
  }

  /** d5_scale's MinHash banding geometry, threshold-conditioned (the d7
    * playbook applied to Jaccard banding — r12). For a pair at Jaccard θ
    * a band of r rows matches with probability θ^r, so b bands recall it
    * with ≥ 1 − (1 − θ^r)^b. Given (θ, target recall ρ) this picks the
    * LARGEST rows-per-band r whose minimal band count
    * b = ⌈ln(1−ρ)/ln(1−θ^r)⌉ fits the signature budget b·r ≤ maxHashes —
    * the most selective geometry that keeps recall, because random-pair
    * band collisions fall as J_noise^r (superlinearly in r) while
    * near-pair recall falls only by factor θ per added row. This is what
    * kills the degenerate-vocabulary flood (BENCHNOTES r11): with r = 2
    * a band collides whenever two docs share the two globally-min-hashed
    * shingle TYPES — bucket occupancy ∝ n·p² with p the heavy types'
    * doc-fraction — while r = 4 cuts the same occupancy to n·p⁴
    * (measured: 1.86e9 banded candidates at sf100 under 16×2 vs 3.95e6
    * under the derived 16×4 — a 470× cut, guard-green).
    *
    * Defaults (θ = 0.85, ρ = 0.99999) derive (16 bands × 4 rows, a
    * 64-hash signature): analytic recall floor 1 − (1−0.85⁴)¹⁶ ≈
    * 1 − 7e-6 at the threshold, ≈ 1 − 1.6e-7 at the J ≈ 0.889 where this
    * corpus family's qualifying pairs actually sit — the regime in which
    * banded == exact and the exact-SQL oracle stays licensed. θ is the
    * recall GUARANTEE line, deliberately below the measured 0.889 so the
    * guarantee covers corpus drift; pairs with J in [0.3, θ) may be
    * missed (at J = 0.5, floor ≈ 0.64) — callers needing loose-threshold
    * completeness are below d5's exact-enumeration wall anyway. */
  private[graft] def d5ScaleGeometry(threshold: Double, targetRecall: Double,
      maxHashes: Int = 64): (Int, Int) = {
    require(threshold > 0.0 && threshold < 1.0 && targetRecall > 0.0 && targetRecall < 1.0)
    val pick = (maxHashes to 1 by -1).iterator.flatMap { r =>
      val miss = 1.0 - math.pow(threshold, r.toDouble)
      // Two numeric traps guard this loop (review-caught): (a) when θ^r
      // underflows below double epsilon, miss rounds to EXACTLY 1.0 and
      // ln(miss) = 0 — the naive b = ceil(x/0) would return a tiny band
      // count for a geometry whose true recall floor is ~0, so miss ≥ 1
      // means "r is infeasible at this threshold", not "1 band suffices";
      // (b) at loose θ the minimal b explodes far past Int range — Long
      // math keeps the budget comparison exact instead of overflowing
      // into "fits".
      if (miss >= 1.0) None
      else if (miss <= 0.0) Some((1L, r))
      else Some((math.max(1L,
        math.ceil(math.log(1.0 - targetRecall) / math.log(miss)).toLong), r))
    }.find { case (b, r) => b * r <= maxHashes }
    pick.map { case (b, r) => (b.toInt, r) }
      .getOrElse((maxHashes, 1)) // θ→0 degenerate: plain minhash buckets
  }

  /** The d7 sign-LSH pair kernel, shared by the d7 query (corpus
    * embeddings) and DedupSpec's planted-cluster recall pin so the pinned
    * path IS the production path. `emb` must carry
    * (vec_id: Long, label: Int, embedding: Array[Float], sq: Double).
    *
    * Shape: sign-bit codes in a typed mapPartitions tight loop (d4/s2
    * pattern — interpreted HOFs and 64 inline Column dots both lose), only
    * bucket membership (vec_id, label, table, code) is exploded, embeddings
    * rejoin after candidate-pair dedup, exact cosine verification at the
    * threshold keeps precision 1.0.
    *
    * Candidate-volume guard (d6's raise_error idiom, per label): bucket
    * occupancy grows ∝ n and the candidate set ∝ Σ occ². The exact
    * per-label Σ bn(bn−1)/2 over the domain-bound bucket-count table
    * (≤ labels·tables·2^bits rows) is compared to the cap BEFORE any pair
    * is generated ([[pairCount]]), and the count table joins back on
    * `label`, a keyed broadcast hash join (the no-BNLJ plan pin holds)
    * that also lets the error NAME the offending label. The default cap admits today's corpora (sf100 ≈ 8.2e7 per
    * label at 4 bits) and fails fast around the next decade, where the
    * honest answers are the tighter-threshold 8-bit geometry (16× fewer
    * candidates) or d6 under maxExactBlock label blocks. */
  private[graft] def signLshPairs(s: SparkSession, emb: DataFrame,
      threshold: Double, tables: Int, bits: Int): DataFrame = {
    // Geometry must slice inside the fixed plane pool: a caller's table
    // count × the threshold-derived bit count can otherwise index past it
    // and die as an opaque ArrayIndexOutOfBoundsException inside a task.
    require(tables * bits <= d7Planes.length,
      s"sign-LSH geometry $tables tables x $bits bits needs ${tables * bits} " +
        s"planes > the fixed pool of ${d7Planes.length}; lower the table " +
        "count or the bits per table")
    import s.implicits._
    import graft.functions.VecFunctions.vec_dot
    val coded = emb.select(col("vec_id"), col("label"), col("embedding"))
      .as[(Long, Int, Array[Float])]
      .mapPartitions { it =>
        val pl = Dedup.d7Planes
        it.map { case (id, label, e) =>
          (id, label, graft.functions.VecKernel.signCodes(e, pl, tables, bits))
        }
      }
      .toDF("vec_id", "label", "codes")
    val buckets = coded
      .select(col("vec_id"), col("label"), posexplode(col("codes")).as(Seq("t", "code")))
    val maxCand = s.conf.getOption("graft.dedup.d7MaxCandidates")
      .map(_.toLong).getOrElse(1000000000L)
    val est = buckets.groupBy(col("label"), col("t"), col("code"))
      .agg(count(lit(1)).as("bn"))
      .groupBy(col("label"))
      .agg(pairCount("bn"))
    val admitted = guarded(buckets, est, Seq("label"), maxCand)(format_string(
      "d7_embedding_neardup_lsh: label %s has ~%s candidate pairs > " +
        "graft.dedup.d7MaxCandidates=%s; raise the cap, use a tighter " +
        "sign-LSH threshold (0.8 derives 8-bit tables, 16x fewer " +
        "candidates), or at this density use d6_embedding_neardup within " +
        "maxExactBlock label blocks (BENCHNOTES r10: 4-bit LSH no longer " +
        "prunes here)",
      col("label"), col("__cand"), lit(maxCand)))
    // Pair-join parallelism = #distinct (label, t, code) keys. The
    // degenerate exhaustive geometry (bits = 0) collapses that to #labels
    // — measured at sf100 density: 8.2e8 candidate pairs admitted by the
    // volume guard but generated by a 10-key join, i.e. 10 reducers doing
    // all the work (the q54 skew shape). Salt the join for coarse
    // geometries: the probe side gets hash(vec_id) % S, the build side
    // replicates ×S — same pair set, S× the parallelism. Production
    // geometries already have bucket-count ≫ cores, so they get S = 1 and
    // their plan is byte-identical to before.
    val saltN = if (bits == 0) 32 else 1
    val aSide = admitted.withColumn("__salt",
      if (saltN == 1) lit(0) else pmod(hash(col("vec_id")), lit(saltN)))
    val bSide =
      if (saltN == 1) buckets.withColumn("__salt", lit(0))
      else buckets.withColumn("__salt",
        explode(sequence(lit(0), lit(saltN - 1))))
    bucketPairs(aSide, bSide, Seq("label", "t", "code", "__salt"), "vec_id", "vec_a", "vec_b")
      .join(emb.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"),
        col("sq").as("sq_a"), col("label")), "vec_a")
      .join(emb.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"),
        col("sq").as("sq_b")), "vec_b")
      .withColumn("cosine",
        vec_dot(col("emb_a"), col("emb_b")) / (sqrt(col("sq_a")) * sqrt(col("sq_b"))))
      .filter(col("cosine") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("label"), col("cosine"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** The shingle family's tokenization (d3/d5/t8/t13 share it — ONE
    * definition so the trigram universes cannot drift apart). limit -1
    * keeps trailing empty tokens — parity with both Spark SQL split and
    * DuckDB string_split_regex for trailing-whitespace text. */
  private[queries] def wordsOf(text: String): Array[String] =
    text.toLowerCase.split("\\s+", -1)

  /** Distinct word-3-gram shingles of lowercased text: the exact set every
    * operator uses (SketchSpec pins the sketch twins' lossless-regime
    * headroom against it). */
  private[graft] def shinglesOf(text: String): Seq[String] = {
    val words = wordsOf(text)
    if (words.length >= 3)
      (0 to words.length - 3).map(i => s"${words(i)} ${words(i + 1)} ${words(i + 2)}").distinct
    else Seq(words.mkString(" "))
  }

  /** The d-family's one shingle source: per document that `pred` selects,
    * `kernel` (built once per partition) maps (`key`, shingles) to a row
    * named `names`. Computed in typed Scala rather than SQL higher-order
    * functions: HOFs are interpreted (no codegen), and worse, projection
    * collapse inlines the `split` into every `element_at` lambda,
    * re-running the regex O(words) times per row (measured: two orders of
    * magnitude slower at sf0.1). The typed map is also an optimizer
    * barrier, so downstream references reuse the materialized array —
    * and so `pred` goes BELOW it: filtered first, a split is shingled
    * exactly once and the predicate pushes into the parquet scan
    * (PlanSpec-pinned via d8), and only (key, text) is selected, because
    * any extra column before the map is materialized for every row. */
  private def shingled[K: TypeTag, R <: Product : TypeTag](s: SparkSession, d: String,
      key: String, pred: Column, names: String*)(kernel: () => (K, Seq[String]) => R): DataFrame = {
    import s.implicits._
    Tables.parallelized(Tables.validDocuments(s, d))
      .filter(pred)
      .select(col(key), col("text")).as[(K, String)]
      .mapPartitions { it =>
        val f = kernel()
        it.map { case (k, text) => f(k, shinglesOf(text)) }
      }
      .toDF(names: _*)
  }

  /** (doc_id, shingles) over the whole corpus (d4/d5/d13/d18/t8). */
  private[queries] def withShingles(s: SparkSession, d: String): DataFrame =
    shingled[Long, (Long, Seq[String])](s, d, "doc_id", lit(true), "doc_id", "shingles")(
      () => (_, _))

  /** Exploded (`key`, sh) rows of the documents `pred` selects: d8/d11/p2/
    * p4/p6 split on doc_id, d16/d16_scale key on source. Pairs are
    * distinct per document by construction (shinglesOf de-dups). */
  private def shingleKeys[K: TypeTag](s: SparkSession, d: String, key: String,
      pred: Column): DataFrame =
    shingled[K, (K, Seq[String])](s, d, key, pred, key, "shingles")(() => (_, _))
      .select(col(key), explode(col("shingles")).as("sh"))

  /** The eval split (source 'src0') and the train split (every other
    * non-null source) of the decontamination family. */
  private val EvalSplit: Column = col("source") === "src0"
  private val TrainSplit: Column = col("source").isNotNull && col("source") =!= "src0"
  /** The training write's quality gate: train split, ≥ 5 whitespace tokens. */
  private val TrainGate: Column = TrainSplit && size(TextOps.wsTokens(col("text"))) >= 5

  /** 1-row (df_cap: int) frame for the shingle-family postings cap
    * (d5/d13/d16). r11: the cap is a corpus FRACTION with an absolute
    * floor — greatest(50, ceil(n_docs/100)) — not a constant. The sf1
    * second-gate run proved the constant wrong one decade up: boilerplate
    * is a fraction of a corpus, so at the 50k-doc GenData corpus a fixed
    * 50 blocked EVERY shingle and d5's candidate set (and d9/d13/d17
    * built on it) collapsed to zero rows while the exhaustive oracle kept
    * finding the planted near-dups. At the driver SFs (≤5k docs) the
    * floor reproduces the old 50 exactly, so verify-SF hashes are
    * unchanged. Integer arithmetic on purpose — (n+99) DIV 100, mirrored
    * verbatim in the oracles — because ceil(0.01·n) in binary floating
    * point rounds up to 51·10ᵏ⁻² at exact powers of ten. The cap rides
    * the plan as a broadcast scalar (t9's corpus-N pattern) so no extra
    * driver action runs. */
  private def dfCapFrame(s: SparkSession, d: String): DataFrame =
    Tables.parallelized(Tables.validDocuments(s, d))
      .agg(count(lit(1)).as("n_docs"))
      .select(greatest(lit(50L), expr("(n_docs + 99) DIV 100")).cast("int").as("df_cap"))

  /** The d5/d13 inverted index: per-shingle doc lists under the fractional
    * DF cap, with a CANDIDATE-VOLUME GUARD (the d6/d7 idiom, r11) in front
    * of the pair expansion. Columns: (sh, ds: array<struct<doc_id,n_sh>>,
    * df_cap: int).
    *
    * Why the guard exists: the pair expansion costs Σ_sh C(DF,2). On a
    * vocabulary-saturated corpus (GenData: ~28k trigram TYPES regardless
    * of size, so DF ∝ n_docs) that sum is Θ(n²) — measured 130M candidate
    * pairs at sf1 (12.7 s) and 13.0 BILLION at sf10, which exhausted the
    * box's scratch disk. No cap value separates recall from cost there:
    * sf1's qualifying pairs ride shingles with DF up to ~140 while the
    * uncapped volume explodes one decade later, and prefix-filter tricks
    * only shave constants when most shared shingles are hot. The honest
    * answer is the same as d6-vs-d7: exact enumeration below the guard,
    * and the BANDED MinHash path (d3/d10 — hash-bucketed candidates,
    * measured sublinear 7.1×/decade, hash-green) as the production
    * operator past it. The guard computes the exact Σ C(DF,2) over the
    * kept shingles in DECIMAL(38,0) (e22 lesson) BEFORE any pair is
    * generated and fails fast naming d3 and the conf knobs; Catalyst
    * reuses the postings exchange for the 1-row estimate, so the healthy
    * path pays one broadcast, not a second shingle pass. */
  private def cappedGuardedPostings(s: SparkSession, d: String, name: String): DataFrame = {
    val maxCand = s.conf.getOption("graft.dedup.d5MaxCandidates")
      .map(_.toLong).getOrElse(500000000L)
    // r15: the absolute cap is a MEMORY/DISK wall, but a corpus density
    // shift can triple wall-clock while staying under it (r14: the
    // regenerated sf1 corpus moved d13 57 → 192 s cold purely through
    // clique shape). The second bound is a TIME model: candidates ÷
    // measured end-to-end pair throughput on the gate corpus against an
    // explicit budget, so density drift fails fast naming the sublinear
    // twin instead of silently eating the bench. Calibration (BENCHNOTES
    // "r15: d13 pair throughput"): the sf1 gate corpus generates
    // 130,194,684 candidates under the DF-cap floor and d13 — the
    // family's slowest per-pair consumer (containment join + intersect +
    // rollup) — completes in 55 s warm ⇒ 2.4M pairs/s, used for the whole
    // family (conservative for d5's 6.2M/s). Defaults: 180 s budget ⇒
    // 432M-candidate time cap, TIGHTER than the 500M volume cap, with the
    // sf1 gate (predicted 54 s) well inside. Both bounds print in the
    // error; the tighter one governs.
    val pairsPerSec = s.conf.getOption("graft.dedup.pairsPerSec")
      .map(_.toDouble).getOrElse(2.4e6)
    val budgetSec = s.conf.getOption("graft.dedup.pairBudgetSec")
      .map(_.toLong).getOrElse(180L)
    val timeCand = (pairsPerSec * budgetSec).toLong
    val effCap = math.min(maxCand, timeCand)
    // r16: the guard's candidate estimate and the pair expansion BOTH
    // consume postings, and Catalyst cannot de-duplicate the two subtrees
    // (the typed shingle mapPartitions closure defeats canonical-plan
    // equality, so no ReusedExchange fires): the executed d13 plan showed
    // TWO full corpus shingle + collect_list passes (~0.7 s each at
    // sf0.1) plus two df-cap count scans. An eager checkpoint of the
    // DF-capped postings makes the corpus pay the shingle pass once —
    // but only below a SIZE threshold: the same-corpus sf1 A/B measured
    // the checkpoint 8% SLOWER there (d13 52.0 → 56.5 s min-of-3:
    // materializing ~14M posting entries costs more than the duplicate
    // pass once the data outweighs the per-job overhead), while sf0.1 is
    // 34% faster (2.40 → 1.59 s). Threshold on the compressed documents
    // bytes (the parallelized() probe): 4 MB (sf0.1's 0.6 MB ✓, sf1's
    // 6 MB ✗ — both measured above).
    val postings0 = withShingles(s, d)
      .select(struct(col("doc_id"),
          size(col("shingles")).cast("bigint").as("n_sh")).as("doc"),
        explode(col("shingles")).as("sh"))
      .groupBy(col("sh"))
      .agg(collect_list(col("doc")).as("ds"))
      .crossJoin(broadcast(dfCapFrame(s, d)))
      .filter(size(col("ds")).between(2, col("df_cap")))
    val docBytes = {
      val files = Tables.validDocuments(s, d).inputFiles
      val hconf = s.sparkContext.hadoopConfiguration
      files.map { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(hconf).getFileStatus(p).getLen
      }.sum
    }
    val postings =
      if (docBytes < (4L << 20)) postings0.localCheckpoint(true) else postings0
    guarded(postings, postings.agg(pairCount("size(ds)")), Nil, effCap)(format_string(
      s"$name: ~%s candidate pairs from the DF <= %s postings exceed the " +
        s"guard (volume cap graft.dedup.d5MaxCandidates=%s; time model " +
        s"~%s s predicted at graft.dedup.pairsPerSec=%s vs " +
        s"graft.dedup.pairBudgetSec=%s); exact n-gram pair enumeration " +
        "is quadratic on this corpus density -- use d3_dedup_minhash/d10 " +
        "or the banded d5_scale/d9_scale/d17_scale twins (bounded " +
        "candidates, the production path) at this scale, or raise the " +
        "caps explicitly",
      col("__cand"), col("df_cap"), lit(maxCand),
      round(col("__cand") / pairsPerSec).cast("bigint"),
      lit(pairsPerSec.toLong), lit(budgetSec)))
  }

  /** The candidate-volume guard of d5/d6/d7/d13/d5_scale: `est` carries
    * the `on` keys (none: one row) and one estimate column, and is
    * broadcast-joined to `rows`; a row whose estimate exceeds `cap` fails
    * the job with `msg` BEFORE any pair is generated. Lazy and
    * distributed: on healthy data the filter is never true. */
  private def guarded(rows: DataFrame, est: DataFrame, on: Seq[String], cap: Long)(
      msg: Column): DataFrame = {
    val n = est.columns.filterNot(on.contains).head
    (if (on.isEmpty) rows.crossJoin(broadcast(est)) else rows.join(broadcast(est), on))
      .filter(when(col(n) > cap, raise_error(msg)).isNull)
      .drop(n)
  }

  /** Σ C(n, 2) over the groups of size `n` — the exact candidate-pair
    * count a bucket or posting list expands to. Both factors ride
    * DECIMAL(38,0): n*(n-1) in BIGINT wraps (non-ANSI) once a group holds
    * ~3e9 rows, exactly the density regime the guard exists to catch (the
    * e22 overflow lesson). */
  private def pairCount(n: String): Column =
    sum(expr(s"CAST($n AS DECIMAL(38,0)) * CAST($n - 1 AS DECIMAL(38,0)) / 2")).as("__cand")

  /** The d5/d13 pair aggregate: every doc pair sharing a kept posting
    * list, with both set sizes and the shared-shingle count `inter`. The
    * pair columns are named `names` (a, b, n_a, n_b); `carry` columns
    * ride along and group last. */
  private def postingPairs(postings: DataFrame, names: Seq[String], carry: Column*): DataFrame = {
    val Seq(a, b, na, nb) = names
    postings
      .select(carry :+ explode(col("ds")).as("a") :+ col("ds"): _*)
      .select(carry :+ col("a") :+ explode(col("ds")).as("b"): _*)
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(Seq(col("a.doc_id").as(a), col("b.doc_id").as(b),
        col("a.n_sh").as(na), col("b.n_sh").as(nb)) ++ carry: _*)
      .agg(count(lit(1)).as("inter"))
  }

  /** Converged min-label propagation over the d5 near-dup pair graph —
    * the shared core of d9 (cluster table) and d17 (survivorship), hoisted
    * so d17 pays d9's propagation cost once and adds only its metadata
    * join, instead of also re-running d9's presentation layer (the
    * cluster_size window + global sort, which d17 discards). Returns the
    * checkpointed (doc_id, cluster_id) fixpoint — each round is already
    * an eager localCheckpoint, so the caller composes on O(1)-deep
    * lineage. Algorithm + scale notes at the d9 entry. `src` names the
    * pair-graph query: d5_ngram_jaccard for d9/d17, and d5_scale (banded
    * candidates, identical output where banding recall is 1.0 — the
    * gate-pinned regime) for d9_scale/d17_scale, which keep working at
    * sf10+ past d5's candidate-volume wall. */
  private def convergedLabels(s: SparkSession, d: String, src: String): DataFrame = {
    // Mirror INSIDE the one checkpointed pass (r17, §1.2): the former
    // pairs-checkpoint + union(mirror)-checkpoint pair materialized the
    // edge set twice (two jobs, the pair set written once as pairs and
    // again inside edges). A per-row two-struct explode emits both
    // directions in the SAME eager checkpoint job — the d5 plan still runs
    // exactly once (the explode is applied before any union could
    // duplicate the subtree), one job and one materialization fewer. Same
    // symmetric edge multiset; downstream is groupBy/join, order-free.
    val edges = queries(src)(s, d).select(col("doc_a"), col("doc_b"))
      .select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .localCheckpoint(true)
    // Round 1 fused into the init (r16): with identity starting labels,
    // the first neighbor-min is just min(dst) per src — one aggregate over
    // the checkpointed edge set instead of the former init-distinct
    // checkpoint + join + aggregate + join round (every vertex appears as
    // a src because the edge set is symmetric, so the distinct vertex set
    // falls out of the same groupBy). Labels after this ARE round 1's
    // fixpoint step; the loop below continues from round 2. Same unique
    // min-label fixpoint, two fewer jobs per query.
    var labels = edges.groupBy(col("src").as("id"))
      .agg(least(col("id"), min(col("dst"))).as("label"))
      .localCheckpoint(true)
    var changed = 1L
    var rounds = 1
    val maxRounds = 32
    while (changed > 0 && rounds < maxRounds) {
      val nbrMin = edges.join(labels.withColumnRenamed("id", "nid"), col("dst") === col("nid"))
        .groupBy(col("src")).agg(min(col("label")).as("nbr_label"))
      // r17 (§1.2, verdict item 7): the convergence test rides the SAME
      // job that materializes the round — observe() computes the moved
      // count inline (CollectMetrics, no extra pass) during the eager
      // checkpoint, so the former per-round count() job is gone (one job
      // per round, two per query at the gate corpora's 2-round fixpoint).
      // Metric ≡ the old `filter(label =!= prev_label).count()` exactly;
      // the checkpoint is withAction-wrapped, so Observation.get resolves
      // as soon as the eager materialization finishes (probed empirically
      // — sum over an empty frame surfaces as null ⇒ 0 moved).
      val obs = org.apache.spark.sql.Observation()
      val next = labels.join(nbrMin, labels("id") === nbrMin("src"), "left")
        .select(col("id"), col("label").as("prev_label"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
        .observe(obs, sum(when(col("label") =!= col("prev_label"), 1L)
          .otherwise(0L)).as("moved"))
        .localCheckpoint(true)
      changed = obs.get.get("moved") match {
        case Some(n: java.lang.Long) => n.longValue
        case _ => 0L
      }
      labels = next.select(col("id"), col("label"))
      rounds += 1
    }
    // Fail-fast convention (d6/s1): emitting non-converged labels would
    // split a component across cluster_ids and leave subclusters with NO
    // is_rep row — silently wrong for a keep-one-per-cluster consumer.
    // Diameter > 32 means the pair graph is not dedup-shaped (long
    // chains); that wants the large-star/small-star variant, not more
    // rounds here.
    if (changed > 0) throw new IllegalStateException(
      s"convergedLabels (d9/d17): label propagation not converged after $maxRounds rounds " +
        s"($changed labels still moving) — component diameter exceeds the dedup-cluster " +
        "assumption; raise the round cap or use a star-contraction variant")
    graft.core.Log.info(s"convergedLabels: fixpoint after $rounds rounds (pair source $src)")
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Banded MinHash signature of one shingle set. Seed i is a pure
    * function of the INDEX, so the signature prefix [0, 32) is
    * bit-identical across every geometry (d3's 8×4 codes are unchanged by
    * d5_scale asking for a longer signature). */
  private def bandSignature(shingles: Seq[String], seeds: Array[Long],
      bands: Int, bandsPerDoc: Int): Array[Long] = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.types.UTF8String
    val numHashes = seeds.length
    val sig = Array.fill(numHashes)(Long.MaxValue)
    shingles.foreach { sh =>
      val u = UTF8String.fromString(sh)
      var i = 0
      while (i < numHashes) {
        val h = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, seeds(i))
        if (h < sig(i)) sig(i) = h
        i += 1
      }
    }
    Array.tabulate(bands) { b =>
      var acc = 42L
      var j = 0
      while (j < bandsPerDoc) { acc = XXH64.hashLong(sig(b * bandsPerDoc + j), acc); j += 1 }
      acc
    }
  }

  /** (doc_id, shingles, banded MinHash signature) in ONE narrow pass: the
    * signature is a per-document reduction, so the naive explode →
    * groupBy(doc_id) formulation would shuffle the whole shingle corpus for
    * nothing. Hash bits are identical to the SQL `xxhash64(lit(i), shingle)`
    * / `xxhash64(slice(sig, …))` forms (seed 42, same int→bytes
    * accumulation), so buckets are deterministic across engines/runs.
    * `pred` is applied BELOW the typed map (which is an optimizer barrier):
    * callers splitting the corpus (d10) push their split predicate into the
    * parquet scan and pay the shingle pass only for their slice. */
  private def bandedSets(s: SparkSession, d: String, pred: Column,
      bands: Int = BANDS, numHashes: Int = NUM_HASHES): DataFrame = {
    require(numHashes % bands == 0, s"$numHashes hashes do not band into $bands")
    val bandsPerDoc = numHashes / bands
    shingled[Long, (Long, Seq[String], Array[Long])](s, d, "doc_id", pred,
        "doc_id", "shingles", "bands") { () =>
      val seeds = Array.tabulate(numHashes)(i =>
        org.apache.spark.sql.catalyst.expressions.XXH64.hashInt(i, 42L))
      (id, shingles) => (id, shingles, bandSignature(shingles, seeds, bands, bandsPerDoc))
    }
  }

  private val BandKeys = Seq("band", "band_sig")

  /** (doc_id, band, band_sig): one row per band bucket a document sits in. */
  private def bandBuckets(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"), posexplode(col("bands")).as(BandKeys))

  /** (doc_id, band, band_sig) bucket-membership rows — d3/d10's banding
    * exposed as the input stream for `streaming.BandIndexProcessor` (the
    * continuous-ingestion near-dup index); one definition, so the batch
    * and streaming band universes cannot drift. */
  private[graft] def bandRows(s: SparkSession, d: String): DataFrame =
    bandBuckets(bandedSets(s, d, lit(true)))

  /** The bucket-candidate join of the LSH family (d3/d5_scale/d10 band
    * buckets, d7 sign-code buckets): rows of `a` and `b` sharing every
    * `keys` bucket column pair up as (outA, outB) = their `id`s, each pair
    * once. `ordered` keeps a < b (a self-join); a cross-split join
    * keeps every pair. */
  private def bucketPairs(a: DataFrame, b: DataFrame, keys: Seq[String], id: String,
      outA: String, outB: String, ordered: Boolean = true): DataFrame = {
    val same = keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _)
    a.as("a").join(b.as("b"), if (ordered) same && col(s"a.$id") < col(s"b.$id") else same)
      .select(col(s"a.$id").as(outA), col(s"b.$id").as(outB))
      .distinct()
  }

  /** Exact-Jaccard verification of candidate pairs: each side's shingle
    * set rejoins on its id (the candidates' two columns, `setsA` and
    * `setsB` keyed on doc_id), pairs below `threshold` drop, and `cols`
    * are kept, ordered by the pair. */
  private def jaccardVerified(cands: DataFrame, setsA: DataFrame, setsB: DataFrame,
      threshold: Double, cols: String*): DataFrame = {
    val Array(a, b) = cands.columns
    cands
      .join(setsA.select(col("doc_id").as(a), col("shingles").as("sh_a")), a)
      .join(setsB.select(col("doc_id").as(b), col("shingles").as("sh_b")), b)
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("bigint"))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(cols.map(col): _*)
      .orderBy(col(a), col(b))
  }

  /** xxhash64-compatible string hash (same bits as the SQL `xxhash64`). */
  private[queries] def xxh64(s: String, seed: Long = 42L): Long = {
    val u = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, seed)
  }

  /** Banded SimHash pair join shared by d4 (xxh64 bits) and d4_oracled
    * (md5 bits): Hamming ≤ 3 over 4 chunks of 16 bits ⇒ at least one chunk
    * equal (pigeonhole), so candidates come from 4 chunk-equality buckets
    * instead of an all-pairs product. Input: (doc_id, simhash: long). */
  private def simhashPairs(sk: DataFrame): DataFrame = {
    val chunked = sk.select(col("doc_id"), col("simhash"),
      posexplode(expr(
        "transform(sequence(0, 3), c -> shiftright(simhash, cast(c * 16 AS int)) & 65535L)"))
        .as(Seq("chunk", "chunk_val")))
    chunked.as("a").join(chunked.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.chunk_val") === col("b.chunk_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= 3) // before distinct: shrink the shuffle
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** (doc_id, simhash): each document's 64-bit SimHash over its shingles,
    * bit i = the sign of Σ ±(bit i of `hash(shingle)`), computed per row
    * in typed Scala (the fold is a tight bit loop; the interpreted-HOF
    * version was two orders of magnitude slower). `hash` is built once
    * per partition. */
  private def simhashSketches(s: SparkSession, d: String,
      hash: () => String => Long): DataFrame = {
    import s.implicits._
    withShingles(s, d)
      .select(col("doc_id"), col("shingles")).as[(Long, Seq[String])]
      .mapPartitions { it =>
        val h = hash()
        it.map { case (id, shingles) =>
          val counts = new Array[Int](64)
          shingles.foreach { sh =>
            val x = h(sh)
            var i = 0
            while (i < 64) { if (((x >>> i) & 1L) == 1L) counts(i) += 1 else counts(i) -= 1; i += 1 }
          }
          var sim = 0L
          var j = 0
          while (j < 64) { if (counts(j) > 0) sim |= 1L << j; j += 1 }
          (id, sim)
        }
      }
      .toDF("doc_id", "simhash")
  }

  /** The d4_oracled shingle hash: bit k is bit (k % 4) of hex nibble
    * (k / 4) of md5(shingle) — the NIBBLE-ORDER definition, chosen because
    * the SQL twin can mirror it with substr/strpos arithmetic on the hex
    * string, no 64-bit unsigned parsing (DuckDB BIGINT is signed and the
    * top hex digit of an md5 prefix overflows it). */
  private def md5NibbleBits(): String => Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    sh => {
      val dig = md.digest(sh.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var x = 0L
      var j = 0
      while (j < 16) { // hex char j = high (even j) or low nibble of byte j/2
        val b = dig(j >> 1) & 0xff
        x |= (if ((j & 1) == 0) b >>> 4 else b & 0xf).toLong << (4 * j)
        j += 1
      }
      x
    }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: hash-groupBy on the full text.
    "d1_dedup_exact" -> { (s, d) =>
      Tables.validDocuments(s, d)
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .select(col("keep_id"), col("n_copies"))
        .orderBy(col("keep_id"))
    },
    // Fingerprint dedup: survivors after collapsing on the sorted-distinct-
    // word fingerprint (word-order/duplication-insensitive exact dedup).
    "d2_dedup_fingerprint" -> { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("fp")).orderBy(col("doc_id"))
      Tables.validDocuments(s, d)
        .withColumn("fp", TextOps.fingerprintCol)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    },
    // MinHash + LSH near-dup pairs, verified by exact Jaccard ≥ 0.9.
    // With 8 bands × 4 rows, P(candidate | J=0.9) ≈ 1 − (1−0.9⁴)⁸ ≈ 0.9997;
    // verified deterministic on the fixed testdata (hashes are xxhash64).
    "d3_dedup_minhash" -> { (s, d) =>
      // Shingles AND the banded MinHash signature in ONE narrow pass (see
      // [[bandedSets]]); the band-bucket join is the query's only shuffle.
      // The same DataFrame feeds the exact-Jaccard verify join; it is
      // deliberately NOT cached (a query-scoped cache has no unpersist
      // point and starves the rest of the session) — in a real pipeline
      // the shingle table would be materialized once upstream.
      val sets = bandedSets(s, d, lit(true))
      val banded = bandBuckets(sets)
      // exact-Jaccard verification on candidates only.
      jaccardVerified(bucketPairs(banded, banded, BandKeys, "doc_id", "doc_a", "doc_b"),
        sets, sets, 0.9, "doc_a", "doc_b", "jaccard")
    },
    // SimHash sketches: 64-bit signature per document (simhashSketches).
    // Hashes are over shingles, not words: with a small vocabulary nearly
    // every document contains every word, so word-set sketches collapse to
    // a handful of values and the band join goes quadratic; 3-gram
    // shingles keep the sketch discriminative.
    "d4_dedup_simhash" -> { (s, d) =>
      simhashPairs(simhashSketches(s, d, () => sh => xxh64(sh)))
    },
    // d4's ORACLE TWIN: the identical SimHash pipeline (64-bit signature,
    // 4×16-bit chunk banding, Hamming ≤ 3) with the hash family swapped
    // from xxh64 to md5 — a hash BOTH engines compute bit-identically —
    // so the banding + verification plumbing that d4's hash-defined output
    // cannot oracle becomes a hash contract here (the s13_exhaustive
    // pattern applied to the SimHash family). d4 itself stays the
    // production entry (xxh64 is ~20× cheaper than MD5 per shingle); this
    // twin certifies the shared pair machinery.
    "d4_oracled" -> { (s, d) => simhashPairs(simhashSketches(s, d, () => md5NibbleBits())) },
    // n-gram (word-3-gram) Jaccard over the DF-capped shingle vocabulary,
    // postings-list form: ONE shingle pass, groupBy(shingle) → bounded doc
    // list, pairs expanded from each list. The document-frequency cap is structural — a posting list
    // longer than the cap (a boilerplate trigram shared by a million
    // documents) is dropped before any pair is generated, bounding
    // candidate work at cap² per shingle instead of quadratic in the
    // corpus.
    //
    // RESULT CONTRACT (the cap is part of the operator's definition): the
    // measure is Jaccard over the DF ≤ cap shingle vocabulary (n_sh stays
    // the FULL set size), cap greatest(50, (n_docs+99) DIV 100) (see
    // dfCapFrame). It equals the uncapped Jaccard exactly when no
    // qualifying pair depends solely on blocked shingles — true on this
    // corpus (every J ≥ 0.3 pair shares a shingle of DF ≤ 10; max DF 25,
    // measured at sf0.1 ⇒ bit-identical to the uncapped oracle), but a
    // property to RE-MEASURE per corpus/scale before relying on exactness
    // — at other DF distributions the capped result is a recall-bounded
    // approximation, not the exact pair set.
    "d5_ngram_jaccard" -> { (s, d) =>
      postingPairs(cappedGuardedPostings(s, d, "d5_ngram_jaccard"),
          Seq("doc_a", "doc_b", "na", "nb"), col("df_cap"))
        .withColumn("jaccard", col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"))
        .filter(col("jaccard") >= 0.3)
        // The cap is PART OF THE RESULT, not a hidden tuning knob: every
        // output row names the vocabulary bound it was computed under, so
        // a production caller (or a downstream join of results computed
        // under different caps) can see the contract without reading docs.
        .select(col("doc_a"), col("doc_b"), col("inter"), col("jaccard"),
          col("df_cap"))
        .orderBy(col("doc_a"), col("doc_b"))
    },
    // The sf10+ path for the d5 FAMILY: banded-MinHash candidates, then
    // exact FULL-vocabulary Jaccard verification at the d5 threshold.
    // Candidate volume is collision-bounded (≈ true pairs + minhash
    // noise), not Σ C(DF,2), so this survives where d5's exact postings
    // enumeration hits its Θ(n²) wall (the guard above).
    //
    // Geometry (r12): THRESHOLD-CONDITIONED via [[d5ScaleGeometry]] — the
    // d7 playbook. r11's fixed 16 bands × 2 rows had recall-overkill
    // (miss odds 1.4e-11 per qualifying pair) and paid for it one decade
    // past its bench point: with a vocabulary that does not grow with the
    // corpus, r = 2 band buckets fill ∝ n·p² on the globally-min-hashed
    // shingle types and the guard tripped at sf100 with 1.86e9 banded
    // candidates. The derived default (θ = 0.85, target 0.99999 →
    // 16 bands × 4 rows over a 64-hash signature) trades un-needed recall
    // slack for a p² → p⁴ occupancy cut: measured 3.95e6 candidates at
    // sf100 density (58.9 s, guard-green), recall floor ≈ 1 − 1.6e-7 at the
    // J ≈ 0.889 where this family's qualifying pairs sit (DedupSpec pins
    // banded == exact at verify SF and the derivation itself).
    //
    // Like d3/d16_scale, the oracle is the exact (uncapped) SQL: banding
    // recall is 1.0 on the gate corpora, and semantics are FULL-vocabulary
    // Jaccard — no df_cap column, because a collision-bounded path has no
    // fan-out to bound (d16_scale's argument). The banded sets are
    // localCheckpointed once (q58's rule): three consumers — bucket
    // join, both set rejoins — must not re-shingle the corpus.
    // d9/d17 compose with this at scale as d9_scale/d17_scale below.
    "d5_scale" -> { (s, d) =>
      val (nb, nr) = d5ScaleGeometry(0.85, 0.99999)
      val sets = bandedSets(s, d, lit(true), bands = nb, numHashes = nb * nr)
        .localCheckpoint(true)
      val buckets = bandBuckets(sets)
      // Bucket-occupancy guard (the d7 idiom on MINHASH buckets): LSH
      // assumes vocabulary grows with the corpus. When it doesn't —
      // GenData keeps ~28k shingle types at every SF — the globally
      // min-hashed types concentrate: every doc containing seed i's
      // minimum-hash type shares minhash_i, so band buckets grow ∝ n and
      // Σ C(occupancy, 2) goes quadratic (measured: fine at sf10/500k
      // docs [43 s], filled the disk at sf100/5M). The exact candidate
      // count is summed in DECIMAL(38,0) BEFORE the pair join and shares
      // d5's cap conf; past it the job names the regime instead of dying
      // on scratch disk.
      val maxCand = s.conf.getOption("graft.dedup.d5MaxCandidates")
        .map(_.toLong).getOrElse(500000000L)
      val est = buckets.groupBy(col("band"), col("band_sig"))
        .agg(count(lit(1)).as("bn"))
        .agg(pairCount("bn"))
      val admitted = guarded(buckets, est, Nil, maxCand)(format_string(
        "d5_scale: ~%s banded candidate pairs exceed " +
          "graft.dedup.d5MaxCandidates=%s; minhash buckets degenerate when " +
          "the shingle vocabulary does not grow with the corpus " +
          "(BENCHNOTES r11) -- shard by source/time before pairing at this " +
          "density, or raise the cap explicitly",
        col("__cand"), lit(maxCand)))
      jaccardVerified(bucketPairs(admitted, buckets, BandKeys, "doc_id", "doc_a", "doc_b"),
        sets, sets, 0.3, "doc_a", "doc_b", "inter", "jaccard")
    },
    // Embedding-cosine near-dup, blocked by the natural `label` partition so
    // the pair join is per-block, not corpus-quadratic. This is the EXACT
    // baseline: at threshold 0.3 qualifying pairs sit right at the cut
    // (measured min cosine 0.30001 at sf0.1), where sign-LSH per-bit
    // agreement is only ~0.6 — no practical (k, L) keeps recall at 1.0, so
    // bucketing here would silently change the answer. The bounded-
    // candidate scale path is d7 below (same pattern as s1/s2) — the
    // PRODUCTION default at scale; see README. A block-size guard makes the
    // quadratic trap un-fallable: any label block larger than
    // `graft.dedup.maxExactBlock` (default 20000 ⇒ ≤ 2·10^8 pairs/block)
    // fails the job at runtime with a pointer to d7 instead of silently
    // running (N_label)² at corpus scale. The guard is lazy and distributed:
    // a broadcast per-label count joined in, raise_error behind a
    // never-true-on-healthy-data filter.
    "d6_embedding_neardup" -> { (s, d) =>
      import graft.functions.VecFunctions.vec_dot
      val maxBlock = s.conf.getOption("graft.dedup.maxExactBlock").map(_.toInt).getOrElse(20000)
      val e0 = Similarity.normed(s, d)
      val sizes = e0.groupBy(col("label")).agg(count(lit(1)).as("__block_n"))
      val e = guarded(e0, sizes, Seq("label"), maxBlock)(format_string(
        "d6_embedding_neardup: label %s has %s vectors > graft.dedup.maxExactBlock=%s; " +
          "use d7_embedding_neardup_lsh (bounded candidates) at this scale",
        col("label"), col("__block_n"), lit(maxBlock)))
      e.as("a").join(e.as("b"),
          col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
        .withColumn("dot", vec_dot(col("a.embedding"), col("b.embedding")))
        .withColumn("cosine", col("dot") / (sqrt(col("a.sq")) * sqrt(col("b.sq"))))
        .filter(col("cosine") >= 0.3)
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          col("a.label").as("label"), col("cosine"))
        .orderBy(col("vec_a"), col("vec_b"))
    },
    // Cross-split contamination check (train/test decontamination): test
    // docs (source 'src0') that share any word-3-gram with the train split.
    // Scale shape: the train side is reduced to a DISTINCT shingle SET
    // before the join — one row per shingle regardless of train-corpus
    // size — so the join is test-shingles × {0,1} membership, never a
    // doc-pair explosion; the groupBy then counts per test doc.
    "d8_decontaminate" -> { (s, d) =>
      val train = shingleKeys[Long](s, d, "doc_id", col("source") =!= "src0")
        .select(col("sh")).distinct()
      shingleKeys[Long](s, d, "doc_id", EvalSplit)
        .join(train, "sh")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("sh")).as("n_shared"))
        .orderBy(col("doc_id"))
    },
    // Per-eval-doc contamination SCORE — d8 finds the contaminated docs,
    // this ranks them: the fraction of an eval doc's (distinct) shingles
    // that occur anywhere in the train split. Same set-reduced train side
    // as d8 (membership left-join, no pair explosion); uncontaminated docs
    // surface with score 0 so a threshold sweep sees the whole split.
    "d11_contamination_score" -> { (s, d) =>
      val train = shingleKeys[Long](s, d, "doc_id", col("source") =!= "src0")
        .select(col("sh")).distinct().withColumn("hit", lit(1))
      shingleKeys[Long](s, d, "doc_id", EvalSplit)
        .join(train, Seq("sh"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_shared"))
        .withColumn("score",
          col("n_shared").cast("double") / col("n_shingles").cast("double"))
        .orderBy(col("doc_id"))
    },
    // Duplicate-CLUSTER resolution: near-dup pairs (d5, J ≥ 0.3) are edges
    // of an undirected graph; the training-data decision is per connected
    // COMPONENT (keep one representative per cluster), not per pair — A~B,
    // B~C must discard two of {A,B,C} even when A~C was never emitted.
    //
    // Algorithm: min-label propagation ("hash-to-min") — every vertex
    // starts labeled with itself; each round takes the min of its own and
    // its neighbors' labels; fixpoint = min doc_id of the component, a
    // UNIQUE answer independent of execution order, so the result is
    // oracle-exact (DuckDB twin: recursive-CTE transitive closure).
    //
    // Scale shape (100 TB): rounds = O(component diameter) — near-dup
    // clusters are short-diameter by construction (most are cliques of
    // re-posts), so this converges in a handful of rounds; each round is
    // one equi-join shuffle + one groupBy(src) partial-agg shuffle over
    // the EDGE set (≪ corpus: only docs with a duplicate), never the
    // corpus. The driver sees one Boolean-sized count per round; lineage
    // is cut with an eager localCheckpoint per round so the plan stays
    // O(1) deep (adversarial long-chain graphs would want the
    // large-star/small-star variant — documented trade-off, not needed
    // for dedup clusters). Round intermediates are localCheckpoint blocks;
    // they are reclaimed by the ContextCleaner once the previous round's
    // RDD is unreachable (Dataset.unpersist does not apply to RDD-level
    // checkpoints), so steady-state memory is one edge set + two label
    // snapshots.
    "d9_dup_clusters" -> { (s, d) => d9Presentation(convergedLabels(s, d, "d5_ngram_jaccard")) },
    // d9's 100 TB composition as a FIRST-CLASS entry (r12): the pair graph
    // comes from d5_scale's collision-bounded banded candidates instead of
    // d5's Θ(n²) exact postings enumeration — the exact family is
    // guard-walled at sf10 density while this runs (BENCHNOTES). Oracled
    // with d9's closure SQL over the UNCAPPED pair set (d5_scale's
    // contract): banded == exact on the gate corpora, so the composed
    // pipeline rides the same recursive-CTE oracle.
    "d9_scale" -> { (s, d) => d9Presentation(convergedLabels(s, d, "d5_scale")) },
    // INCREMENTAL dedup: an incoming batch (here: every 5th doc_id, the
    // same bounded-query-set convention as s1) checked against the
    // existing corpus — the shape of continuous ingestion, where re-running
    // the full d3 over corpus+batch would redo 100 TB of signature work for
    // a GB of new data. Each side's split predicate sits BELOW the typed
    // shingle map (d8's lesson: the map is an optimizer barrier), so the
    // corpus is shingled exactly once across the two branches and the
    // predicates push into the parquet scans. In production the corpus
    // side's (doc_id, shingles, bands) table is materialized once and
    // reused per batch — the join below is exactly that access pattern:
    // band-bucket equi-join (batch × corpus collisions only), candidates
    // deduped, then exact-Jaccard verify on candidates alone. Oracle-exact
    // for the same reason as d3: banding recall is 1.0 at J ≥ 0.9 on this
    // corpus, so the capped LSH path equals the exhaustive cross-split
    // Jaccard the DuckDB twin computes.
    "d10_incremental_dedup" -> { (s, d) =>
      val isNew = col("doc_id") % 5 === 0
      val newSets = bandedSets(s, d, isNew)
      val corpusSets = bandedSets(s, d, !isNew)
      val cands = bucketPairs(bandBuckets(newSets), bandBuckets(corpusSets), BandKeys,
        "doc_id", "new_id", "dup_of", ordered = false)
      jaccardVerified(cands, newSets, corpusSets, 0.9, "new_id", "dup_of", "jaccard")
    },
    // The 100 TB path for d6: sign-LSH bucketing WITHIN label bounds the
    // candidate set (a block of size n yields ~L·n²/2^k candidates instead
    // of n²), exact cosine verification keeps precision at 1.0; recall vs
    // the exact d6 is pinned in DedupSpec (hash-defined buckets ⇒ rows-only
    // under the driver contract, like s2). Geometry is threshold-
    // conditioned (see d7Geometry above): θ=0.3 at target 0.85 reproduces
    // r10's fixed (4 bits, 16 tables) bit-for-bit; the high-density
    // production geometry is signLshPairs at θ=0.8 / target 0.9 → 8-bit
    // tables, recall-pinned ≥0.9 on DedupSpec's planted clusters and
    // guard-green at sf100 density (BENCHNOTES r11).
    "d7_embedding_neardup_lsh" -> { (s, d) =>
      signLshPairs(s, Similarity.normed(s, d), D7_THRESHOLD, D7_TABLES,
        d7Geometry(D7_THRESHOLD, D7_TABLES, D7_TARGET_RECALL))
    },
    // d7's hash-oracled exhaustive twin (the s2/s4/s13 pattern): 1 table x
    // 0 bits puts every vector of a label in ONE bucket, so the candidate
    // set is all within-label pairs and the exact-cosine verification makes
    // the output d6's rows verbatim — same kernel, degenerate geometry, so
    // the oracle hash certifies the WHOLE pair pipeline (bucketing, pair
    // dedup, embedding rejoin, verification), not a separate code path.
    // The production d7 entry stays rows-only beside it (its buckets are
    // hash-defined); this twin is the contract that the kernel's recall
    // losses come from the geometry alone.
    "d7_exhaustive" -> { (s, d) => signLshPairs(s, Similarity.normed(s, d), 0.3, 1, 0) },
    // Semantic dedup (the SemDeDup recipe: cluster, keep one representative,
    // drop members too similar to it): per label cluster, the MEDOID is the
    // vector most aligned with the cluster centroid (s5/s6's order-free
    // decimal centroid); every other member reports its cosine to the
    // medoid and an is_dup flag at the 0.25 threshold. Composition of
    // existing pieces — centroid partial-agg (corpus collapses once),
    // medoid = max_by argmax (r8: was a row_number window partitioned by
    // label — cardinality 10, FIXED, i.e. a 10-reducer corpus sort, the
    // e22/q55 wall shape; the argmax needs no order at all, so max_by with
    // a (cos_cent, −vec_id) ordering struct reproduces the exact
    // (desc cosine, asc vec_id) pick as a map-side-combining aggregate),
    // then ONE broadcast join of the per-label medoid table back to the
    // corpus; no pairwise explosion anywhere (SemDeDup's point vs d6).
    "d15_semdedup" -> { (s, d) =>
      import graft.functions.VecFunctions.vec_dot
      val e = Similarity.normed(s, d)
      val cent = Similarity.centroidVecs(s, d)
      // Zero-centroid guard (s5's case): a label's exact component sums can
      // cancel to the zero vector, so the centroid-side norm can be 0 even
      // though validity guarantees sq > 0. NULL cos_cent (DuckDB x/0
      // semantics); the medoid max_by then falls back to the vec_id
      // tiebreak, same as the oracle's nulls-last DESC rank. cos_med needs
      // no guard — the medoid is a validated vector, so m_sq > 0.
      val scored = e.join(broadcast(cent), Seq("label"))
        .withColumn("cnorm", sqrt(col("sq")) * sqrt(vec_dot(col("cvec"), col("cvec"))))
        .withColumn("cos_cent",
          when(col("cnorm") =!= 0.0, vec_dot(col("embedding"), col("cvec")) / col("cnorm")))
      // Materialize the #labels-sized medoid table so the broadcast side
      // doesn't re-run the centroid+argmax subtree (s6/d9's lesson); the
      // corpus-sized scored side stays lazy and is scanned once more for
      // the final join — two corpus passes total, never a pairwise product.
      val medoids = scored.groupBy(col("label"))
        .agg(max_by(
          struct(col("vec_id"), col("embedding"), col("sq")),
          struct(col("cos_cent"), (-col("vec_id")).as("nv"))).as("m"))
        .select(col("label"), col("m.vec_id").as("medoid_id"),
          col("m.embedding").as("m_emb"), col("m.sq").as("m_sq"))
        .localCheckpoint(true)
      scored.join(broadcast(medoids), Seq("label"))
        .withColumn("cos_med",
          vec_dot(col("embedding"), col("m_emb")) /
            (sqrt(col("sq")) * sqrt(col("m_sq"))))
        .withColumn("is_dup", col("vec_id") =!= col("medoid_id") && col("cos_med") >= 0.25)
        .select(col("label"), col("vec_id"), col("medoid_id"), col("cos_med"), col("is_dup"))
        .orderBy(col("label"), col("vec_id"))
    },
    // Winnowing-fingerprint candidate pairs (the MOSS plagiarism-detector
    // shape): two docs sharing a minimal 32-byte rolling-hash window share
    // a 32-byte substring with high probability — a BYTE-level near-dup
    // signal that survives word-level edits the shingle family (d3/d5)
    // keys on, computed by the codegen'd rolling_min_hash Expression
    // (O(text) per doc, narrow). One groupBy(fp) shuffle of (fp, doc_id)
    // pairs; pair expansion is bounded by the same DF-cap pattern as d5
    // (a fixed cap of 50, mirrored in the oracle) so a boilerplate
    // substring shared by a million docs can never go quadratic.
    "d14_winnow_pairs" -> { (s, d) =>
      import graft.functions.RollingHashFunctions.rolling_min_hash
      val fps = Tables.validDocuments(s, d)
        .select(col("doc_id"), rolling_min_hash(col("text"), 32).as("fp"))
      fps.groupBy(col("fp"))
        .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
        .filter(size(col("ds")).between(2, 50))
        .select(col("fp"), explode(col("ds")).as("doc_a"), col("ds"))
        .select(col("fp"), col("doc_a"), explode(col("ds")).as("doc_b"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("fp"))
        .orderBy(col("doc_a"), col("doc_b"))
    },
    // ASYMMETRIC containment |A∩B| / |A| (ordered pairs): catches
    // subset-duplicates — excerpts, quotes, a doc embedded in a longer one —
    // which symmetric Jaccard under-scores (a 50-shingle doc inside a
    // 500-shingle doc has J ≈ 0.1 but containment 1.0). Same postings-list
    // scaffolding and DF-cap contract as d5 (one shingle pass, bounded pair
    // expansion, cap² worst case per shingle); the ordered groupBy keeps
    // BOTH directions, so each doc reports what fraction of ITSELF appears
    // elsewhere. inter counts the DF ≤ cap vocabulary while na is the full
    // set size — d5's convention (see its RESULT CONTRACT note; on this
    // corpus max DF < cap, so the capped result is bit-identical to the
    // uncapped oracle).
    "d13_containment" -> { (s, d) =>
      val postings = cappedGuardedPostings(s, d, "d13_containment").drop("df_cap")
      // Containment is directional (inter/na), but the intersection itself
      // is symmetric — so expand each posting list to UNDIRECTED pairs
      // (a < b, half the exploded rows and half the groupBy shuffle of the
      // naive a ≠ b form), carry BOTH set sizes through the aggregate, and
      // emit the two orientations afterwards from the pair-level rows
      // (a cheap map-side union, no second shuffle). Same result set,
      // ~2× less pair traffic — the dominant cost of the exact family.
      val pairs = postingPairs(postings, Seq("ida", "idb", "nsa", "nsb"))
      // r17 (§1.2 don't recompute): the two orientations were a UNION of
      // two projections of `pairs`, and the executed plan showed the WHOLE
      // quadratic pair expansion + count aggregate running twice — the
      // union branches' differing projections defeat exchange reuse
      // (plans/r17/d13_containment_before.txt: two Generate→HashAggregate
      // pipelines, no ReusedExchange on the pair exchange). One two-struct
      // explode emits both orientations per aggregated pair, so the
      // explode + aggregate runs ONCE at every scale. Same row multiset.
      pairs.select(col("inter"), explode(array(
          struct(col("ida").as("doc_a"), col("idb").as("doc_b"), col("nsa").as("na")),
          struct(col("idb").as("doc_a"), col("ida").as("doc_b"), col("nsb").as("na"))))
          .as("e"))
        .select(col("e.doc_a").as("doc_a"), col("e.doc_b").as("doc_b"),
          col("e.na").as("na"), col("inter"))
        .withColumn("containment",
          col("inter").cast("double") / col("na").cast("double"))
        .filter(col("containment") >= 0.8)
        .select(col("doc_a"), col("doc_b"), col("inter"), col("containment"))
        .orderBy(col("doc_a"), col("doc_b"))
    },
    // SUB-document dedup: the paragraph-level pass of a training-data
    // pipeline (CCNet-style), at fixed 8-word windows since this corpus has
    // no paragraph marks. Each disjoint chunk is md5'd, counted corpus-wide,
    // and every doc reports its duplicated-chunk fraction — the signal for
    // stripping boilerplate that whole-doc dedup (d1–d5) can't see. Scale
    // shape: chunking is a narrow flatMap; the ONLY shuffles are the
    // groupBy(chunk-hash) count and the hash-key rejoin (both on the same
    // key, so the exchange is reused); per-doc collapse partial-aggregates
    // map-side. Hashes are 32-char md5 strings — fine at this fan-out (16
    // shuffled bytes/word); at 100 TB shave them with substr(md5, 1, 16).
    "d12_chunk_dedup" -> { (s, d) =>
      val chunks = Tables.validDocuments(s, d)
        .select(col("doc_id"), split(trim(lower(col("text"))), "\\s+").as("w"))
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, int((size(w)-1)/8)), " +
            "i -> md5(cast(array_join(slice(w, i*8+1, 8), ' ') as binary)))")).as("ch"))
      val cnt = chunks.groupBy(col("ch")).agg(count(lit(1)).as("n_occ"))
      chunks.join(cnt, "ch")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("n_occ") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
        .withColumn("dup_frac",
          col("n_dup_chunks").cast("double") / col("n_chunks").cast("double"))
        .orderBy(col("doc_id"))
    },
    // Pairwise SOURCE-level overlap matrix: the dataset-curation view of
    // d8 ("how much do my corpora share?" before mixing them), in d5's
    // DF-capped POSTINGS form: ONE groupBy(sh) builds, per shingle, its
    // corpus document-frequency and its distinct source set; shingles with
    // doc-DF above the cap (boilerplate shared by everything) are dropped
    // STRUCTURALLY before any pair arithmetic, and source pairs expand
    // from each surviving set — no shingle-keyed self-join at all. Scale
    // shape: the only wide stage is the postings aggregation (collect_set
    // partial-aggregates map-side; a hot shingle is one key whose value is
    // bounded by #sources), pair fan-out is ≤ k(k-1)/2 per shingle, and
    // set sizes broadcast (one row per source) for the union / Jaccard
    // arithmetic, whose single division of exact BIGINTs is IEEE-exact.
    //
    // RESULT CONTRACT (mirrors d5): the measure is source overlap over the
    // doc-DF ≤ cap shingle vocabulary — sizes, intersections, and Jaccard
    // all restricted to it, and every row names its bound in `df_cap`
    // (d5's cap, from the same dfCapFrame). On this corpus the
    // capped result equals the uncapped one (max doc-DF 25 at sf0.1), but
    // at other DF distributions the cap intentionally tightens the
    // estimate toward discriminative overlap — re-measure per corpus
    // before relying on equality. INNER-join semantics: source pairs
    // sharing zero capped shingles have no row.
    "d16_source_overlap" -> { (s, d) =>
      val cap = dfCapFrame(s, d)
      // shinglesOf de-dups within a doc, so count(*) here IS doc-DF.
      val postings = shingleKeys[String](s, d, "source", lit(true))
        .groupBy(col("sh"))
        .agg(count(lit(1)).as("df"), collect_set(col("source")).as("srcs"))
        .crossJoin(broadcast(cap))
        .filter(col("df") <= col("df_cap"))
        .drop("df_cap")
      val sizes = postings.select(explode(col("srcs")).as("source"))
        .groupBy(col("source")).agg(count(lit(1)).as("n_sh"))
      val inter = postings
        .select(explode(col("srcs")).as("src_a"), col("srcs"))
        .select(col("src_a"), explode(col("srcs")).as("src_b"))
        .filter(col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_inter"))
      inter
        .join(broadcast(sizes.toDF("src_a", "n_a")), "src_a")
        .join(broadcast(sizes.toDF("src_b", "n_b")), "src_b")
        .withColumn("jaccard", col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
        .crossJoin(broadcast(cap))
        .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
          col("n_inter"), col("jaccard"), col("df_cap"))
        .orderBy(col("src_a"), col("src_b"))
    },
    // d16's SCALE TWIN via KMV sketches (functions/Sketches.scala, the
    // q58 pattern on the shingle vocabulary): one corpus pass builds a
    // bounded bottom-k sketch per source; every pairwise overlap after
    // that is O(k) array math on the |sources|-row sketch table — no
    // postings aggregation, no per-shingle source-set expansion, and no
    // DF cap needed because a sketch never pays a pair term (the cap
    // exists in d16 to bound the boilerplate-shingle fan-out; sketches
    // have no fan-out to bound). Semantics therefore differ deliberately:
    // the twin measures overlap over the FULL vocabulary (d16's contract
    // notes the capped and uncapped results coincide on this corpus) and
    // emits ALL source pairs (at saturation a sketch cannot distinguish
    // true-zero overlap from small overlap, so zero-rows are data, not
    // absence). Lossless below k per source (~1.5k shingles/source at
    // verify SF vs k = 16,384) — the exact SQL is the oracle; above k the
    // q58 estimator bounds apply (SketchSpec).
    "d16_scale" -> { (s, d) =>
      val k = s.conf.get("spark.graft.sketch.k", "16384").toInt
      val sk = udaf(graft.functions.Sketches.KmvSketch(k))
      val sketches = shingleKeys[String](s, d, "source", lit(true))
        .select(col("source"), xxhash64(col("sh")).as("h"))
        .groupBy(col("source")).agg(sk(col("h")).as("sk"))
        // |sources| rows of ≤ k longs; both sides of the pair join read it
        // — without the checkpoint the self-join would re-shingle and
        // re-sketch the whole corpus twice (e26's one-corpus-pass rule).
        .localCheckpoint(true)
      val pairs = sketches.toDF("src_a", "sk_a")
        .join(sketches.toDF("src_b", "sk_b"), col("src_a") < col("src_b"))
      // r16: one fused two-pointer merge per pair (kmvPairStats) instead
      // of the four-expression composition that rebuilt the union sketch
      // (boxed array_union+sort+slice over 16384 longs) up to four times
      // per row — and twice over, because the global orderBy's range
      // sampling re-evaluates the project. Measured 2.9 s → ~0.1 s of
      // pair-stat evaluation on the 190 source pairs at sf0.1; doubles
      // bit-identical (SketchSpec pins fused == composed).
      pairs.select(col("src_a"), col("src_b"),
          graft.functions.Sketches.kmvPairStats(col("sk_a"), col("sk_b"), k).as("st"))
        .select(col("src_a"), col("src_b"),
          col("st.n_a_est").as("n_a_est"), col("st.n_b_est").as("n_b_est"),
          col("st.union_ndv").as("union_ndv"), col("st.inter_ndv").as("inter_ndv"))
        .withColumn("jaccard", col("inter_ndv") / col("union_ndv"))
        .orderBy(col("src_a"), col("src_b"))
    },
    // Survivorship: collapse each d9 duplicate cluster to ONE kept doc by
    // an explicit policy — keep-the-longest (n_chars desc, doc_id asc
    // tiebreak), the standard canonical-record selection that turns a
    // cluster assignment into an actual deduped corpus. Composes d9's
    // converged labels with a metadata join (doc_id-keyed, survivors are
    // cluster-count-sized) and one per-cluster argmax window. The policy
    // column is the only thing to swap for quality-based survivorship
    // (t17's gate score slots in unchanged).
    // Uses convergedLabels directly (not the d9 query) so the propagation's
    // checkpointed fixpoint feeds the join without d9's cluster_size window
    // + global sort, which this query never reads — d17's cost is d9's core
    // plus a cluster-sized argmax, not d9's presentation layer too.
    "d17_survivorship" -> { (s, d) =>
      d17Presentation(s, d, convergedLabels(s, d, "d5_ngram_jaccard")) },
    // d17's scale composition, first-class like d9_scale (same pair
    // source, same oracle argument).
    "d17_scale" -> { (s, d) => d17Presentation(s, d, convergedLabels(s, d, "d5_scale")) },
    // MinHash ESTIMATOR calibration — the acceptance audit you run before
    // trusting a K-component signature family (d3/d10/d5_scale geometry)
    // on a new corpus: over all pairs of a FIXED-SIZE deterministic doc
    // sample, compare the signature-agreement estimate (#matching
    // components / K) against the exact shingle Jaccard, bucketed by
    // estimate decile → (n_pairs, mean exact J, mean |error|) per bucket.
    // s12's ship-the-estimator-with-its-error idea applied to the dedup
    // family. The audit hash family is md5-derived (j:shingle → first 32
    // hash bits), not the production PolyHash — engine-independent, so
    // the WHOLE audit is a hash contract (the d4_oracled precedent);
    // what it certifies (K=32 component variance vs exact J on YOUR
    // shingle distribution) transfers to any uniform signature family.
    // Scale shape: the sample is top-128 by (md5(doc_id), doc_id) —
    // TakeOrdered, a per-partition heap + driver merge, NO global sort —
    // so the audit costs one corpus scan + an 8128-pair broadcast
    // self-join of 128 rows at ANY corpus size. Mean aggregates ride
    // exact DECIMAL sums (order-free; double sums would be partitioning-
    // dependent) via the VARCHAR route (r8: both engines print a double
    // as its shortest round-trip decimal).
    "d18_minhash_calibration" -> { (s, d) =>
      val K = 32
      val N = 128
      val sample = withShingles(s, d)
        .select(col("doc_id"), col("shingles"),
          md5(col("doc_id").cast("string").cast("binary")).as("hkey"))
        .orderBy(col("hkey"), col("doc_id")).limit(N)
      val sig = sample.select(col("doc_id"), col("shingles"),
        transform(sequence(lit(0), lit(K - 1)), j =>
          array_min(transform(col("shingles"), sh =>
            conv(substring(md5(concat_ws("", j.cast("string"), lit(":"), sh)
              .cast("binary")), 1, 8), 16, 10).cast("long")))).as("mh"))
      val a = sig.select(col("doc_id").as("da"), col("shingles").as("sha"), col("mh").as("mha"))
      val b = sig.select(col("doc_id").as("db"), col("shingles").as("shb"), col("mh").as("mhb"))
      a.join(broadcast(b), col("da") < col("db"))
        .withColumn("matches", aggregate(
          zip_with(col("mha"), col("mhb"), (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v))
        .withColumn("inter", size(array_intersect(col("sha"), col("shb"))).cast("bigint"))
        .withColumn("jac", col("inter").cast("double") /
          (size(col("sha")) + size(col("shb")) - col("inter")).cast("double"))
        .withColumn("est", col("matches").cast("double") / lit(K.toDouble))
        .withColumn("bucket", floor(col("est") * 10).cast("int"))
        .withColumn("jd", col("jac").cast("string").cast("decimal(38,9)"))
        .withColumn("ed", abs(col("est") - col("jac")).cast("string").cast("decimal(38,9)"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("jd")).as("sj"), sum(col("ed")).as("se"))
        .select(col("bucket"), col("n_pairs"),
          (col("sj").cast("string").cast("double") / col("n_pairs").cast("double"))
            .as("avg_jaccard"),
          (col("se").cast("string").cast("double") / col("n_pairs").cast("double"))
            .as("mean_abs_err"))
        .orderBy(col("bucket"))
    },
    // Duplicate-aware sampling weights (the "soft dedup" used when hard
    // removal loses coverage): every doc in an exact-dup group of size n
    // trains at weight 1/n, so each distinct TEXT contributes exactly one
    // doc-equivalent regardless of how many sources re-crawled it. The
    // per-source rollup is the mixing-table input: eff_docs is what the
    // source actually contributes to training after downweighting. The
    // weight is kept EXACT as parts-per-million (1e6 div n — BIGINT, fold-
    // order-free) and converted to double once per source row; a raw
    // double sum would hash-differ across partition orders. Two exchanges
    // at 100 TB: one groupBy on the text hash (the d1 shuffle) and one
    // |sources|-sized rollup; the group-size join-back rides a window
    // over the SAME fp partitioning, not a second shuffle.
    "d19_dup_weights" -> { (s, d) =>
      // fp is materialized as a column BEFORE the windows: partitioning by
      // the md5 expression directly makes Catalyst project it twice
      // (_w0#a vs _w0#b) and the two windows stop sharing their exchange
      // (plan-audited — the expression-key form paid 2× the shuffle).
      val byFp = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
      Tables.validDocuments(s, d)
        .withColumn("fp", md5(col("text").cast("binary")))
        .withColumn("n", count(lit(1)).over(byFp).cast("bigint"))
        .withColumn("w_ppm", expr("1000000L div n"))
        .withColumn("rn", row_number().over(byFp.orderBy(col("doc_id"))))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("rn") === 1, 1L).otherwise(0L)).cast("bigint").as("n_kept_hard"),
          max(col("n")).as("max_copies"),
          sum(col("w_ppm")).as("eff_ppm"))
        .select(col("source"), col("n_docs"), col("n_kept_hard"), col("max_copies"),
          (col("eff_ppm").cast("double") / 1e6).as("eff_docs"))
        .orderBy(col("source"))
    },
    // The training-WRITE pipeline end-to-end (p1's sibling for the shard
    // path): quality gate → exact dedup → eval decontamination → t28's
    // shard manifests, fused into one plan so the driver hash certifies
    // the COMPOSITION, not just the stages. Gate: train-split docs
    // (source ≠ eval 'src0', non-null) with ≥ 5 whitespace tokens. Dedup:
    // first doc per exact text (p1's window). Decontamination: any train
    // doc sharing ONE 3-gram shingle with the eval split is dropped —
    // d8's set-reduced membership join (shingle universe, not doc pairs)
    // feeding a LEFT ANTI join on doc_id. Manifest: md5-nibble shards
    // with doc/token/byte totals (t28's geometry, endpoints omitted).
    // Scale shape: the eval shingle set is DISTINCT-reduced before the
    // join (eval splits are small by construction — it broadcasts); the
    // contaminated-id set is smaller still; the corpus is scanned once
    // for the gate+dedup chain and once inside the shingle kernel.
    "p2_pretrain_shards" -> { (s, d) =>
      TextOps.shardRows(cleanTrain(s, d))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("bigint").as("n_tokens"),
          sum(col("n_chars")).cast("bigint").as("n_bytes"))
        .orderBy(col("shard"))
    },
    // The INCREMENTAL training write — the maintenance theme landed
    // end-to-end: p2's gate → dedup → decontam → manifest pipeline
    // maintained under corpus growth WITHOUT recomputing the vintage.
    // With vintage V (doc_id ≤ the key-span midpoint, t30's cutoff idiom)
    // and delta Δ:
    //   manifest(p2(V ∪ Δ)) = M_V ⊕ manifest(Δ-adds) ⊖ manifest(retro)
    // where M_V is YESTERDAY'S persisted manifest (p2 with vintage-only
    // knowledge — materialized here; a |shards|-row read in production);
    // Δ-adds are delta docs that gate, are first-of-text across the whole
    // corpus (append-ordered ids make vintage winners STABLE — d10's
    // incremental-dedup argument: a delta doc can lose to a vintage text
    // but never evict one, which is why yesterday's rn within V equals
    // today's rn restricted to V), and are clean against the FULL eval
    // index; and retro is the RETROACTIVE RETRACTION — vintage docs that
    // survived yesterday but share a 3-gram shingle with a NEWLY ARRIVED
    // eval doc. That retraction is the part naive incremental pipelines
    // silently miss: decontamination is not append-only, because the EVAL
    // set grows too. Subtraction is e32's signed-sum algebra (p2's
    // manifest carries sums only, so it is subtractable; net-zero shards
    // drop, matching the recompute which never emits them). The ORACLE is
    // p2's full-recompute SQL VERBATIM — hash equality certifies the
    // whole maintenance identity for an arbitrary split. Scale shape:
    // delta dedup and both decontam passes are index probes (the text
    // hash and shingle structures are provision-once in production);
    // retro touches vintage ROWS only through the shingle-hit id set,
    // never a vintage rescan.
    "p4_incremental_pretrain" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val b = Tables.validDocuments(s, d)
        .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi")).head
      val cut = if (b.isNullAt(0)) Long.MinValue
        else b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 2
      val pre = col("doc_id") <= lit(cut)
      val g = Tables.validDocuments(s, d)
        .filter(TrainGate)
        .select(col("doc_id"), col("text"), col("n_chars"), pre.as("pre"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("text")).orderBy(col("doc_id"))))
        .localCheckpoint(true)
      val kept = g.filter(col("rn") === 1)
      // r16 (optimization guide §1.2 — don't recompute): the eval split is
      // shingled ONCE with per-shingle vintage flags instead of two
      // pred-filtered scans consumed four times lazily. Same sets by
      // algebra — a shingle is in evalShPre iff hasPre, a vintage doc is
      // retro-contaminated iff it shares a shingle with hasNew — so the
      // manifest identity (and the verbatim p2-recompute oracle) is
      // untouched. The eval flag table is localCheckpointed: it is
      // eval-split-sized (small by construction, d8's argument) and feeds
      // the membership join.
      val evalSh = shingleKeys[Long](s, d, "doc_id", EvalSplit)
        .groupBy(col("sh"))
        .agg(max(pre).as("hasPre"), max(!pre).as("hasNew"))
        .localCheckpoint(true)
      // r17 (§1.2, one more recompute folded): the vintage and delta train
      // splits were shingled in two separate kernel passes (trainPred &&
      // pre, trainPred && !pre) — and the vintage pass was consumed TWICE
      // (the vClean anti-join and the retro semi-join rebuild the
      // un-checkpointed tpDoc subtree independently), so the corpus paid
      // the pre-half shingle kernel two times over. `pre` is a pure doc_id
      // predicate, so ONE pass over the whole train split joined once
      // against the eval flag table gives every hit set, eagerly
      // checkpointed (it is contaminated-ids-sized — far below the eval
      // table even): per doc, hitPre/hitNew flags; the doc's vintage is
      // re-derived from doc_id at the consumers. Set algebra unchanged —
      //   old tpDoc   ≡ hits where pre (filter commutes through the join
      //                 and the per-doc max)
      //   old dContam ≡ hits where !pre (any joined shingle ⇒ the doc is
      //                 in the set; flags are irrelevant there)
      // — so the manifest identity and the verbatim p2-recompute oracle
      // are untouched; the train corpus pays ONE shingle pass total.
      val hits = shingleKeys[Long](s, d, "doc_id", TrainSplit)
        .join(evalSh, "sh")
        .groupBy(col("doc_id"))
        .agg(max(col("hasPre")).as("hitPre"), max(col("hasNew")).as("hitNew"))
        .localCheckpoint(true)
      val vClean = kept.filter(col("pre"))
        .join(hits.filter(pre && col("hitPre")).select(col("doc_id")),
          Seq("doc_id"), "left_anti")
      val dClean = kept.filter(!col("pre"))
        .join(hits.filter(!pre).select(col("doc_id")), Seq("doc_id"), "left_anti")
      val retro = vClean
        .join(hits.filter(pre && col("hitNew")).select(col("doc_id")),
          Seq("doc_id"), "left_semi")
      def manifest(df: DataFrame, sgn: Long): DataFrame =
        TextOps.shardRows(df)
          .groupBy(col("shard"))
          .agg((lit(sgn) * count(lit(1))).as("n_docs"),
            (lit(sgn) * sum(col("n_tokens"))).as("n_tokens"),
            (lit(sgn) * sum(col("n_chars"))).as("n_bytes"))
      val mV = manifest(vClean, 1L).localCheckpoint(true) // yesterday's table
      mV.unionAll(manifest(dClean, 1L)).unionAll(manifest(retro, -1L))
        .groupBy(col("shard"))
        .agg(sum(col("n_docs")).cast("bigint").as("n_docs"),
          sum(col("n_tokens")).cast("bigint").as("n_tokens"),
          sum(col("n_bytes")).cast("bigint").as("n_bytes"))
        .filter(col("n_docs") > 0)
        .orderBy(col("shard"))
    },
    // EXACT-SUBSTRING dedup (Lee et al. ACL'22, "Deduplicating Training
    // Data Makes Language Models Better" §4.1 EXACTSUBSTR): any K-token
    // window whose text occurs ≥ 2 times ANYWHERE in the corpus (across
    // docs or repeated within one) is a duplicated substring; overlapping
    // duplicated windows merge into maximal spans (the units a training
    // pipeline would cut), and each affected doc reports its span count,
    // covered-token total, and integer-ppm duplicated fraction. The paper
    // builds a suffix array; the distributed equivalent is the window
    // fingerprint join: tokenize once, slide a K-window (explode over a
    // sequence — linear, never quadratic), count window keys, join the
    // ≥2 keys back, then gaps-and-islands on window START positions per
    // doc (break when pos−prev > K ⇒ coverage [s, e+K−1] is contiguous).
    // d20 keys windows by their exact TEXT — heavier on the exchange but
    // SQL-reproducible, so the whole pipeline is hash-oracled. d20_scale
    // keys by xxhash64 of the token-array slice — the window string is
    // never materialized and the count exchange carries 8-byte keys
    // instead of K-token strings (the suffix-array-free production cut);
    // identical output absent 64-bit collisions, so it shares d20's
    // oracle verbatim and DedupSpec pins d20_scale == d20 row-for-row.
    "d20_substring_spans" -> ((s, d) => substringSpans(s, d, hashed = false)),
    "d20_scale" -> ((s, d) => substringSpans(s, d, hashed = true)),
    // EXACT-SUBSTRING DECONTAMINATION (r16) — the strict sibling of d8's
    // shingle-overlap drop, and the Lee et al./GPT-3-style n-gram
    // decontamination at window granularity: a train doc is contaminated
    // wherever it carries a VERBATIM K-token window that also appears in
    // the eval split. Where d8 answers "which train docs overlap eval AT
    // ALL" (3-gram set intersection ⇒ whole-doc drop), d21 LOCALIZES the
    // contamination — maximal merged spans per train doc with exact token
    // counts — so a pipeline can cut the spans (p6's machinery) instead
    // of discarding the document. Shares windowKeys/mergeIslands with
    // d20/p6: the matcher is a semi-join against the DISTINCT eval window
    // set (eval splits are small by construction — d8's argument — so at
    // 100 TB the set broadcasts, the fact never shuffles for matching);
    // everything downstream is the proven island merge. d21_scale keys
    // windows by xxhash64 (8-byte exchange, window text never
    // materialized) — identical rows absent collisions, same oracle.
    "d21_substr_decontam" -> ((s, d) => substrDecontam(s, d, hashed = false)),
    "d21_scale" -> ((s, d) => substrDecontam(s, d, hashed = true)),
    // d20 COMPOSED INTO THE TRAINING WRITE (r15 verdict item 5) — Lee et
    // al.'s EXACTSUBSTR deduplication actually CUTTING the corpus that
    // feeds the shard manifests, not just reporting spans: p2's gate →
    // exact-dedup → decontamination chain, then every maximal duplicated
    // island [sp, ep+K−1] (recounted over the SURVIVING population — a
    // span is a duplicate iff its window repeats among the docs that will
    // actually train) is removed token-wise, and t28's manifest geometry
    // aggregates the CUT text: kept tokens, cut tokens, surviving bytes,
    // plus a per-shard md5 over the doc_id-ordered surviving texts
    // (t25's pin-the-BYTES contract lifted to the shard level) — a
    // regression anywhere in gate/dedup/decontam/island/cut arithmetic
    // flips a shard hash. Fully DuckDB-oracled including the cut
    // (complement-of-covered-positions reconstruction in SQL). Scale
    // shape: the cut is a per-doc array op (no shuffle beyond d20's
    // window-count exchange and the islands' doc_id window); the
    // manifest is a 16-group aggregate; nothing is corpus-quadratic.
    "p6_substr_pretrain" -> { (s, d) =>
      val K = SubstrK
      // r16: AQE coalesces the anti-join output to one partition (a few
      // MB of text), which would serialize the K-window explode below —
      // bytes-based coalescing is blind to downstream per-row compute.
      // The scale-adaptive spread is a no-op on real layouts.
      val clean = Tables.parallelized(cleanTrain(s, d))
        .select(col("doc_id"), TextOps.wsTokens(col("text")).as("w"))
      val spans = islandSpans(clean, hashed = false, carry = Seq.empty,
        dupSparse = true)
        .withColumn("ce", col("ep") + lit(K - 1))
        .groupBy(col("doc_id"))
        .agg(collect_list(struct(col("sp"), col("ce"))).as("spans"))
      val cut = clean.join(spans, Seq("doc_id"), "left")
        .withColumn("ctoks",
          when(col("spans").isNull, col("w")).otherwise(
            filter(col("w"), (_, i) =>
              !exists(col("spans"), sp =>
                sp.getField("sp") <= i && i <= sp.getField("ce")))))
        .select(col("doc_id"),
          size(col("w")).cast("bigint").as("n_tokens"),
          size(col("ctoks")).cast("bigint").as("kept"),
          array_join(col("ctoks"), " ").as("ctext"))
      cut
        .withColumn("h", TextOps.docHash)
        .withColumn("shard", TextOps.shardKey)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("kept")).cast("bigint").as("n_tokens"),
          sum(col("n_tokens") - col("kept")).cast("bigint").as("cut_tokens"),
          sum(length(col("ctext"))).cast("bigint").as("n_bytes"),
          md5(array_join(transform(
              array_sort(collect_list(struct(col("doc_id"), col("ctext").as("t")))),
              x => x.getField("t")), "\u0001").cast("binary")).as("clean_md5"))
        .orderBy(col("shard"))
    }
  )

  /** The training-write prefix of p2 and p6: train-split docs with ≥ 5
    * whitespace tokens (the gate), first doc per exact text (the dedup),
    * minus every doc sharing ONE 3-gram shingle with the eval split —
    * d8's set-reduced membership join (shingle universe, not doc pairs)
    * feeding a LEFT ANTI join on doc_id (the decontamination). */
  private def cleanTrain(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val deduped = Tables.validDocuments(s, d)
      .filter(TrainGate)
      .withColumn("rn",
        row_number().over(Window.partitionBy(col("text")).orderBy(col("doc_id"))))
      .filter(col("rn") === 1)
    val evalSh = shingleKeys[Long](s, d, "doc_id", EvalSplit)
      .select(col("sh")).distinct()
    val contaminated = shingleKeys[Long](s, d, "doc_id", TrainSplit)
      .join(evalSh, "sh").select(col("doc_id")).distinct()
    deduped.join(contaminated, Seq("doc_id"), "left_anti")
  }

  /** d20's window length in tokens. A COMPILE-TIME constant shared by the
    * Spark pipeline and the DuckDB oracle (`D20_SQL` interpolates it), not
    * a conf knob: r15's `graft.dedup.substrK` let a user set K while the
    * oracle stayed at 10, guaranteeing a hash mismatch at verify time
    * (ADVICE r15). One source of truth for both sides closes that. */
  private[graft] val SubstrK = 10

  /** The K-window key stream over a tokenized population: one row per
    * (doc_id, carry…, pos, wkey). `hashed` picks the key form (exact
    * window text = oracle-able, xxhash64 of the token slice = the
    * 8-byte-exchange scale cut). */
  private def windowKeys(toks0: DataFrame, hashed: Boolean,
      carry: Seq[String]): DataFrame = {
    val K = SubstrK
    val toks = toks0.filter(size(col("w")) >= K)
    val key =
      if (hashed) xxhash64(expr(s"slice(w, pos + 1, $K)"))
      else array_join(expr(s"slice(w, pos + 1, $K)"), " ")
    val cc = carry.map(col)
    toks
      .select(col("doc_id") +: cc :+ col("w") :+
        explode(sequence(lit(0), size(col("w")) - K)).as("pos"): _*)
      .select(col("doc_id") +: cc :+ col("pos") :+ key.as("wkey"): _*)
  }

  /** Gaps-and-islands merge of matched window START positions → one row
    * per maximal island (doc_id, carry…, sp, ep); the covered token
    * range is [sp, ep+K−1]. Shared by d20/p6 (duplicate windows) and d21
    * (eval-set windows) — the matcher differs, the merge cannot drift. */
  private def mergeIslands(hits: DataFrame, carry: Seq[String]): DataFrame = {
    val cc = carry.map(col)
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    hits
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(wDoc) > SubstrK, 1).otherwise(0))
      .withColumn("island", sum(col("brk")).over(wDoc))
      .groupBy(col("doc_id") +: cc :+ col("island"): _*)
      .agg(min(col("pos")).as("sp"), max(col("pos")).as("ep"))
      .select(col("doc_id") +: cc :+ col("sp") :+ col("ep"): _*)
  }

  /** The d20 island kernel over an arbitrary tokenized population:
    * K-window keys → global count ≥ 2 → join back → gaps-and-islands on
    * window starts. Input `toks` must carry (doc_id, w) plus any `carry`
    * columns to thread through (they ride the window pipeline, never a
    * join). Returns one row per maximal island: (doc_id, carry…, sp, ep)
    * where [sp, ep+K−1] is the covered TOKEN range. Shared by
    * d20/d20_scale (corpus-wide rollup) and p6 (the actual cut). */
  private def islandSpans(toks0: DataFrame, hashed: Boolean,
      carry: Seq[String], dupSparse: Boolean = false): DataFrame = {
    val wins = windowKeys(toks0, hashed, carry)
    // Window keys occurring ≥ 2 times anywhere — two strategies (r17):
    //
    // `dupSparse = false` (d20/d20_scale — RAW corpus, planted duplicates
    // guaranteed): the former count-aggregate + join-back consumed `wins`
    // TWICE — Catalyst cannot reuse the subtree (different projections
    // under each consumer), so the executed plan carried two full scan +
    // tokenize + window-explode passes at every scale
    // (plans/r17/d20_substring_spans_before.txt: two parquet scans, two
    // Generates). A count window over the ONE key stream replaces the
    // second pass (§1.2/§2.4): same per-key counts, same surviving rows,
    // and the wkey exchange carries the stream once (the old count
    // exchange already carried ~every distinct key — window keys rarely
    // repeat within a map partition, so partial aggregation shrank
    // nothing). Hot-key safety: WindowExec buffers a key group in a
    // SPILLABLE array (no collect_list materialization), so a degenerate
    // corpus where one window repeats millions of times spills instead of
    // OOMing.
    //
    // `dupSparse = true` (p6 — the population is POST exact-dedup +
    // decontamination, so duplicated windows are rare and typically
    // ABSENT): keep the count-aggregate + join-back. The dup set is a
    // tiny/empty broadcast build side, and AQE's empty-relation
    // propagation then eliminates the probe pass entirely — measured at
    // sf0.1: the window formulation made p6 0.98 → 1.29 s (it pays the
    // full wkey shuffle+sort before discovering emptiness) while the
    // join-back plan never runs the probe explode at all.
    if (dupSparse) {
      val dup = wins.groupBy(col("wkey")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 2).select(col("wkey"))
      mergeIslands(wins.join(dup, "wkey"), carry)
    } else {
      val wKey = org.apache.spark.sql.expressions.Window.partitionBy(col("wkey"))
      val hits = wins.withColumn("__cnt", count(lit(1)).over(wKey))
        .filter(col("__cnt") >= 2)
        .drop("__cnt")
      mergeIslands(hits, carry)
    }
  }

  /** Shared d21 pipeline — see the map entry. Output: one row per
    * CONTAMINATED train doc (doc_id, n_tokens, n_spans,
    * contaminated_tokens, contam_ppm), doc_id-ordered. */
  private def substrDecontam(s: SparkSession, d: String, hashed: Boolean): DataFrame = {
    val docs = tokenFrame(s, d, col("source"))
    val evalW = windowKeys(docs.filter(EvalSplit), hashed, Seq.empty)
      .select(col("wkey")).distinct()
    val trainW = windowKeys(docs.filter(TrainSplit), hashed, Seq("n_tokens"))
    spanRollup(mergeIslands(trainW.join(evalW, "wkey"), Seq("n_tokens")),
      "contaminated_tokens", "contam_ppm")
  }

  /** Shared d20 pipeline — see the map entry. `hashed` selects the window
    * key: exact text (oracle-able) vs xxhash64 of the token slice (scale).
    * K = [[SubstrK]] on both the Spark and oracle sides. */
  private def substringSpans(s: SparkSession, d: String, hashed: Boolean): DataFrame =
    spanRollup(islandSpans(tokenFrame(s, d), hashed, Seq("n_tokens")), "dup_tokens", "dup_ppm")

  /** (doc_id, cols…, w, n_tokens): the whitespace-token frame of d20/d21. */
  private def tokenFrame(s: SparkSession, d: String, cols: Column*): DataFrame =
    Tables.parallelized(Tables.validDocuments(s, d))
      .select(col("doc_id") +: cols :+ TextOps.wsTokens(col("text")).as("w"): _*)
      .withColumn("n_tokens", size(col("w")).cast("bigint"))

  /** d20/d21's per-doc rollup of maximal spans (doc_id, n_tokens, sp, ep):
    * span count, covered tokens (`tokens`) and their integer ppm share. */
  private def spanRollup(spans: DataFrame, tokens: String, ppm: String): DataFrame =
    spans
      .withColumn("span_tokens", col("ep") - col("sp") + SubstrK)
      .groupBy(col("doc_id"), col("n_tokens"))
      .agg(count(lit(1)).cast("bigint").as("n_spans"),
        sum(col("span_tokens")).cast("bigint").as(tokens))
      .withColumn(ppm, expr(s"$tokens * 1000000 DIV n_tokens"))
      .orderBy(col("doc_id"))

  /** d9's presentation layer over the converged (doc_id, cluster_id)
    * fixpoint — cluster size window + representative flag. Shared by
    * d9_dup_clusters and d9_scale so the two entries differ ONLY in the
    * pair-graph source. */
  private def d9Presentation(labels: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    labels
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .withColumn("is_rep", col("doc_id") === col("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** d17's survivorship layer (longest-doc-wins pick + drop accounting)
    * over the converged fixpoint; shared by d17_survivorship/d17_scale.
    *
    * r16: the pick is an ARGMAX, not a ranking — one partial-aggregatable
    * `max(struct(n_chars, -doc_id, doc_id))` per cluster replaces the
    * count window + row_number window + filter (guide §2: map-side
    * partial aggregation over window buffering). Struct ordering is
    * lexicographic, so max == the row_number()=1 row under
    * (n_chars DESC, doc_id ASC) exactly — doc_id is a non-negative
    * BIGINT, so -doc_id cannot overflow and max(-doc_id) is min(doc_id).
    * Two Sorts + two Windows over every member row collapse to one
    * partial-aggregatable sort aggregate (the struct buffer keeps it off
    * HashAggregate — see the pinned plan) whose exchange carries one row
    * per (input partition, cluster) instead of every member. The oracle
    * keeps the
    * row_number() formulation (SURVIVOR_CTES), so the hash gate itself
    * proves the argmax ≡ the rank pick. */
  private def d17Presentation(s: SparkSession, d: String, clusters: DataFrame): DataFrame = {
    val meta = Tables.validDocuments(s, d).select(col("doc_id"), col("n_chars"))
    clusters.join(meta, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(
        max(struct(col("n_chars"), (-col("doc_id")).as("nd"), col("doc_id")))
          .as("top"),
        count(lit(1)).cast("bigint").as("n_members"))
      .select(col("cluster_id"), col("top.doc_id").as("kept_doc"),
        col("top.n_chars").as("kept_chars"), col("n_members"),
        (col("n_members") - 1).as("n_dropped"))
      .orderBy(col("cluster_id"))
  }

  // DuckDB twin of the shingle builder (list_zip over shifted slices).
  // Shared with TextOps' t8 oracle (same shingle definition by construction).
  private[queries] val SH_CTE =
    s"""sh_docs AS (
      |  SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3 THEN
      |      list_transform(list_zip(w[1:-3], w[2:-2], w[3:-1]),
      |                     s -> s[1] || ' ' || s[2] || ' ' || s[3])
      |    ELSE [array_to_string(w, ' ')] END) AS shingles
      |  FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM ${graft.Tables.validDocsSql} documents) t)""".stripMargin

  // Shared scaffolding for the Jaccard-family twins (d5/d9/d13/d17): ONE
  // definition of the inverted index, the cap, and the ordered-pair CTE,
  // so the d5 contract (shingle set, DF cap, Jaccard arithmetic,
  // threshold) cannot silently drift apart from the operators built on
  // top of it. The fractional cap and J ≥ 0.3 are constants on both
  // sides, so no session conf can move the operator off its oracle.
  private[queries] val INV_CTE =
    "inv AS (SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n, unnest(shingles) AS sh FROM sh_docs)"
  // r11: the DF cap is mirrored in the oracle (the d16 r10 precedent,
  // now family-wide) — greatest(50, (n_docs+99) DIV 100), the exact
  // integer arithmetic dfCapFrame uses — so operator and oracle stay
  // capped in lockstep at ANY corpus density. Before this, PAIRS_CTE was
  // exhaustive and the sf1 gate caught the divergence the moment the cap
  // started biting (d5: 0 Spark rows vs 2,530 oracle rows).
  private[queries] val CAP_CTE =
    "cap AS (SELECT CAST(greatest(50, (count(*) + 99) // 100) AS INTEGER) AS df_cap FROM sh_docs)"
  private[queries] val KEEP_CTE =
    """keep AS (SELECT sh FROM inv GROUP BY sh
      |         HAVING count(*) >= 2 AND count(*) <= (SELECT df_cap FROM cap))""".stripMargin
  private[queries] val PAIRS_CTE =
    """pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb,
      |         count(*) AS inter
      |  FROM inv a JOIN keep k ON a.sh = k.sh
      |             JOIN inv b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2, 3, 4)""".stripMargin
  private[queries] val JACCARD_SQL = "CAST(inter AS DOUBLE) / (na + nb - inter)"
  // The UNCAPPED pair CTE — d5_scale's contract (full-vocabulary Jaccard,
  // no keep/df_cap), shared by the scale twins' oracles (d5/d9/d17_scale).
  private[queries] val UNCAPPED_PAIRS_CTE =
    """pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb,
      |         count(*) AS inter
      |  FROM inv a JOIN inv b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2, 3, 4)""".stripMargin
  // Transitive-closure scaffold over whichever `pairs` CTE precedes it
  // (capped for d9/d17, uncapped for the _scale twins): min-label
  // connected components via a recursive CTE, the DuckDB twin of
  // convergedLabels' fixpoint.
  private[queries] val CLOSURE_CTES =
    s"""p AS (SELECT doc_a, doc_b FROM pairs
      |      WHERE $JACCARD_SQL >= 0.3),
      |edges AS (SELECT doc_a AS u, doc_b AS v FROM p UNION ALL SELECT doc_b, doc_a FROM p),
      |reach(u, l) AS (
      |  SELECT DISTINCT u, u FROM edges
      |  UNION
      |  SELECT e.u, r.l FROM edges e JOIN reach r ON e.v = r.u),
      |cc AS (SELECT u AS doc_id, min(l) AS cluster_id FROM reach GROUP BY u)""".stripMargin

  // d4_oracled's 64 signature bits, nibble-order (bit k = bit k%4 of hex
  // nibble k/4 of md5(shingle)) — generated so the Scala kernel's bit
  // layout and the SQL's arithmetic cannot drift by hand-editing one side.
  private val D4_VOTE_COLS: String = (0 until 64).map { k =>
    val j = k / 4; val pw = 1 << (k % 4)
    s"sum(CASE WHEN (nib[${j + 1}] // $pw) % 2 = 1 THEN 1 ELSE -1 END) AS v$k"
  }.mkString(",\n|    ")
  private val D4_SIG_EXPR: String =
    (0 until 64).map(k => s"CASE WHEN v$k > 0 THEN '1' ELSE '0' END").mkString(" || ")

  // Exact within-label pair enumeration at cosine >= 0.3 — d6's oracle, and
  // (by degenerate 1x0 LSH geometry) d7_exhaustive's too.
  private val EXACT_PAIRS_SQL: String =
    s"""WITH e AS (
      |  SELECT vec_id, label, embedding,
      |    (SELECT sum(CAST(u.x AS DOUBLE) * CAST(u.x AS DOUBLE)) FROM unnest(embedding) u(x)) AS sq
      |  FROM ${graft.Tables.validEmbSql} embeddings)
      |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
      |  (SELECT sum(CAST(p.v AS DOUBLE)) FROM unnest(
      |     list_transform(list_zip(a.embedding, b.embedding),
      |                    z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) p(v))
      |    / (sqrt(a.sq) * sqrt(b.sq)) AS cosine
      |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
      |WHERE (SELECT sum(CAST(p.v AS DOUBLE)) FROM unnest(
      |     list_transform(list_zip(a.embedding, b.embedding),
      |                    z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) p(v))
      |    / (sqrt(a.sq) * sqrt(b.sq)) >= 0.3
      |ORDER BY vec_a, vec_b""".stripMargin

  def oracle: Map[String, String] = Map(
    // d4_oracled: md5-bit SimHash — per-shingle nibble votes, sign-bit
    // signature as a 64-char bit string (char i+1 = bit i, matching the
    // Scala kernel's 1L << k layout chunked by shiftright(simhash, 16c)),
    // pigeonhole chunk join, exact string Hamming ≤ 3.
    "d4_oracled" ->
      s"""WITH $SH_CTE,
         |inv AS (SELECT doc_id, unnest(shingles) AS sh FROM sh_docs),
         |hx AS (SELECT doc_id,
         |    list_transform(range(1, 17),
         |      i -> strpos('0123456789abcdef', substr(md5(sh), i, 1)) - 1) AS nib
         |  FROM inv),
         |votes AS (SELECT doc_id,
         |    $D4_VOTE_COLS
         |  FROM hx GROUP BY doc_id),
         |sigs AS (SELECT doc_id, $D4_SIG_EXPR AS sig FROM votes),
         |chunks AS (
         |  SELECT doc_id, sig, c.c AS chunk, substr(sig, 1 + 16 * c.c, 16) AS cv
         |  FROM sigs, (SELECT unnest(range(0, 4)) AS c) c),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         a.sig AS sa, b.sig AS sb
         |  FROM chunks a JOIN chunks b
         |    ON a.chunk = b.chunk AND a.cv = b.cv AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b,
         |  CAST(len(list_filter(range(1, 65),
         |    i -> substr(sa, i, 1) <> substr(sb, i, 1))) AS INTEGER) AS hamming
         |FROM cand
         |WHERE len(list_filter(range(1, 65),
         |    i -> substr(sa, i, 1) <> substr(sb, i, 1))) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,
    "d1_dedup_exact" ->
      s"""SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM ${graft.Tables.validDocsSql} documents GROUP BY text ORDER BY keep_id""".stripMargin,
    "d2_dedup_fingerprint" ->
      s"""SELECT doc_id, lang, source FROM (
        |  SELECT doc_id, lang, source, row_number() OVER (
        |    PARTITION BY md5(array_to_string(list_sort(list_distinct(
        |      string_split_regex(lower(text), '\\s+'))), ' '))
        |    ORDER BY doc_id) AS rn
        |  FROM ${graft.Tables.validDocsSql} documents) t
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // d3: LSH banding is hash-specific, but on the fixed testdata its output
    // equals the exhaustive exact-Jaccard pair set at threshold 0.9 (verified
    // locally; deterministic hashes) — so the oracle is the exact computation.
    "d3_dedup_minhash" ->
      s"""WITH $SH_CTE,
         |inv AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS sh FROM sh_docs),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb,
         |         count(*) AS inter
         |  FROM inv a JOIN inv b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4)
         |SELECT doc_a, doc_b,
         |  CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
         |FROM pairs WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.9
         |ORDER BY doc_a, doc_b""".stripMargin,
    "d5_ngram_jaccard" ->
      s"""WITH $SH_CTE,
         |$INV_CTE,
         |$CAP_CTE,
         |$KEEP_CTE,
         |$PAIRS_CTE
         |SELECT doc_a, doc_b, inter,
         |  $JACCARD_SQL AS jaccard,
         |  (SELECT df_cap FROM cap) AS df_cap
         |FROM pairs WHERE $JACCARD_SQL >= 0.3
         |ORDER BY doc_a, doc_b""".stripMargin,
    // d5_scale: the exact UNCAPPED pair SQL — full-vocabulary Jaccard, the
    // twin's contract (no keep CTE, no df_cap). Exact because banding
    // recall is 1.0 on the gate corpora (hardest pairs at J≈0.889; the
    // derived 16×4 geometry's analytic miss odds there are ~1.6e-7/pair,
    // and candidates ⊇ exact is pinned in DedupSpec).
    "d5_scale" ->
      s"""WITH $SH_CTE,
         |$INV_CTE,
         |$UNCAPPED_PAIRS_CTE
         |SELECT doc_a, doc_b, inter,
         |  $JACCARD_SQL AS jaccard
         |FROM pairs WHERE $JACCARD_SQL >= 0.3
         |ORDER BY doc_a, doc_b""".stripMargin,
    // d10: exhaustive cross-split Jaccard at 0.9 (see d3's recall note —
    // the banded path's answer equals this exhaustive form on this corpus).
    // The pair CTE differs from PAIRS_CTE structurally (split predicates
    // instead of the < ordering), so only the scaffold is shared.
    "d10_incremental_dedup" ->
      s"""WITH $SH_CTE,
         |$INV_CTE,
         |pairs AS (
         |  SELECT a.doc_id AS new_id, b.doc_id AS dup_of, a.n AS na, b.n AS nb,
         |         count(*) AS inter
         |  FROM inv a JOIN inv b ON a.sh = b.sh
         |  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 != 0
         |  GROUP BY 1, 2, 3, 4)
         |SELECT new_id, dup_of,
         |  $JACCARD_SQL AS jaccard
         |FROM pairs WHERE $JACCARD_SQL >= 0.9
         |ORDER BY new_id, dup_of""".stripMargin,
    // d9: the recursive CTE computes the transitive closure of the d5 pair
    // graph (small: only duplicated docs), then min(reachable) per doc —
    // the same unique fixpoint the Spark label propagation converges to.
    "d9_dup_clusters" ->
      s"""WITH RECURSIVE $SH_CTE,
         |$INV_CTE,
         |$CAP_CTE,
         |$KEEP_CTE,
         |$PAIRS_CTE,
         |$CLOSURE_CTES,
         |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM cc GROUP BY cluster_id)
         |SELECT cc.doc_id, cc.cluster_id, CAST(sz.cluster_size AS BIGINT) AS cluster_size,
         |  cc.doc_id = cc.cluster_id AS is_rep
         |FROM cc JOIN sz USING (cluster_id)
         |ORDER BY cc.doc_id""".stripMargin,
    // d9_scale/d17_scale: the closure over d5_scale's UNCAPPED pair set
    // (banded == exact on the gate corpora, d5_scale's oracle argument
    // lifted through the component closure — recall 1.0 on the pair set
    // implies identical components).
    "d9_scale" ->
      s"""WITH RECURSIVE $SH_CTE,
         |$INV_CTE,
         |$UNCAPPED_PAIRS_CTE,
         |$CLOSURE_CTES,
         |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM cc GROUP BY cluster_id)
         |SELECT cc.doc_id, cc.cluster_id, CAST(sz.cluster_size AS BIGINT) AS cluster_size,
         |  cc.doc_id = cc.cluster_id AS is_rep
         |FROM cc JOIN sz USING (cluster_id)
         |ORDER BY cc.doc_id""".stripMargin,
    "d8_decontaminate" ->
      s"""WITH $SH_CTE,
         |e AS (SELECT s.doc_id, d.source, unnest(s.shingles) AS sh
         |      FROM sh_docs s JOIN ${graft.Tables.validDocsSql} d USING (doc_id)),
         |train AS (SELECT DISTINCT sh FROM e WHERE source != 'src0')
         |SELECT doc_id, count(DISTINCT e.sh) AS n_shared
         |FROM e JOIN train USING (sh) WHERE e.source = 'src0'
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "d11_contamination_score" ->
      s"""WITH $SH_CTE,
         |e AS (SELECT s.doc_id, d.source, unnest(s.shingles) AS sh
         |      FROM sh_docs s JOIN ${graft.Tables.validDocsSql} d USING (doc_id)),
         |train AS (SELECT DISTINCT sh FROM e WHERE source != 'src0'),
         |ev AS (SELECT doc_id, sh FROM e WHERE source = 'src0')
         |SELECT ev.doc_id, count(*) AS n_shingles,
         |  count(t.sh) AS n_shared,
         |  CAST(count(t.sh) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS score
         |FROM ev LEFT JOIN train t USING (sh)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "d6_embedding_neardup" -> EXACT_PAIRS_SQL,
    // The degenerate-geometry twin produces d6's rows verbatim (see the
    // query comment), so it rides the same SQL — one oracle certifying two
    // code paths is the point.
    "d7_exhaustive" -> EXACT_PAIRS_SQL,
    // s5's centroid CTEs, then medoid-by-rank and one per-label rejoin.
    "d15_semdedup" ->
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
        |  SELECT e.label, e.vec_id, e.embedding,
        |    (SELECT sum(CAST(u.x AS DOUBLE) * CAST(u.x AS DOUBLE)) FROM unnest(e.embedding) u(x)) AS sq,
        |    (SELECT sum(CAST(p.v AS DOUBLE)) FROM unnest(
        |       list_transform(list_zip(e.embedding, c.cvec),
        |                      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) p(v))
        |    / (sqrt((SELECT sum(CAST(u.x AS DOUBLE) * CAST(u.x AS DOUBLE)) FROM unnest(e.embedding) u(x)))
        |       * sqrt((SELECT sum(CAST(u.x AS DOUBLE) * CAST(u.x AS DOUBLE)) FROM unnest(c.cvec) u(x)))) AS cos_cent
        |  FROM ${graft.Tables.validEmbSql} e JOIN cvecs c USING (label)
        |), ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY label ORDER BY cos_cent DESC, vec_id) AS rk
        |  FROM scored
        |), med AS (
        |  SELECT label, vec_id AS medoid_id, embedding AS m_emb, sq AS m_sq
        |  FROM ranked WHERE rk = 1)
        |SELECT label, vec_id, medoid_id, cos_med,
        |  vec_id <> medoid_id AND cos_med >= 0.25 AS is_dup
        |FROM (
        |  SELECT r.label, r.vec_id, m.medoid_id,
        |    (SELECT sum(CAST(p.v AS DOUBLE)) FROM unnest(
        |       list_transform(list_zip(r.embedding, m.m_emb),
        |                      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) p(v))
        |      / (sqrt(r.sq) * sqrt(m.m_sq)) AS cos_med
        |  FROM ranked r JOIN med m USING (label)) t
        |ORDER BY label, vec_id""".stripMargin,
    // t5's fingerprint CTE (TextOps.FP_SQL — one definition), then the
    // capped group self-pairing.
    "d14_winnow_pairs" ->
      s"""WITH t AS (SELECT doc_id, text, octet_length(encode(text)) AS n,
         |            hex(encode(text)) AS hx FROM ${graft.Tables.validDocsSql} documents),
         |f AS (SELECT doc_id, ${TextOps.FP_SQL} AS fp FROM t),
         |g AS (SELECT fp FROM f GROUP BY fp HAVING count(*) BETWEEN 2 AND 50)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.fp
         |FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |JOIN g ON a.fp = g.fp
         |ORDER BY doc_a, doc_b""".stripMargin,
    // Ordered-pair variant of PAIRS_CTE (a ≠ b instead of a < b); the
    // containment denominator is the FULL shingle-set size (d5 convention).
    "d13_containment" ->
      s"""WITH $SH_CTE,
         |$INV_CTE,
         |$CAP_CTE,
         |$KEEP_CTE,
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na,
         |         count(*) AS inter
         |  FROM inv a JOIN keep k ON a.sh = k.sh
         |             JOIN inv b ON a.sh = b.sh AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2, 3)
         |SELECT doc_a, doc_b, inter,
         |  CAST(inter AS DOUBLE) / na AS containment
         |FROM pairs WHERE CAST(inter AS DOUBLE) / na >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin,
    // t6's chunking machinery at width/stride 8, md5'd (md5(VARCHAR) —
    // DuckDB has no md5(BLOB); Spark's cast-to-binary twin is byte-identical
    // on this ASCII corpus, parity pinned by t4).
    "d12_chunk_dedup" ->
      s"""WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w FROM ${graft.Tables.validDocsSql} documents),
        |c AS (
        |  SELECT doc_id, unnest(list_transform(range((len(w)-1)//8 + 1),
        |      i -> md5(array_to_string(list_slice(w, CAST(i*8+1 AS BIGINT), CAST(i*8+8 AS BIGINT)), ' ')))) AS ch
        |  FROM t),
        |cnt AS (SELECT ch, count(*) AS n_occ FROM c GROUP BY ch)
        |SELECT doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
        |  CAST(CAST(sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS dup_frac
        |FROM c JOIN cnt USING (ch)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // d16: mirrors the Spark doc-DF cap (default 50) — the `keep` CTE IS
    // the vocabulary bound, so oracle and operator stay capped in lockstep
    // at any DF distribution (cf. d5's contract note).
    "d16_source_overlap" ->
      s"""WITH $SH_CTE,
         |inv AS (SELECT doc_id, unnest(shingles) AS sh FROM sh_docs),
         |$CAP_CTE,
         |keep AS (SELECT sh FROM inv GROUP BY sh
         |         HAVING count(*) <= (SELECT df_cap FROM cap)),
         |e0 AS (SELECT d.source, i.sh
         |       FROM inv i JOIN keep USING (sh)
         |       JOIN ${graft.Tables.validDocsSql} d USING (doc_id)),
         |e AS (SELECT DISTINCT source, sh FROM e0),
         |sz AS (SELECT source, count(*) AS n_sh FROM e GROUP BY 1),
         |i AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_inter
         |      FROM e a JOIN e b ON a.sh = b.sh AND a.source < b.source GROUP BY 1, 2)
         |SELECT src_a, src_b, sa.n_sh AS n_a, sb.n_sh AS n_b, n_inter,
         |  CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) AS jaccard,
         |  (SELECT df_cap FROM cap) AS df_cap
         |FROM i JOIN sz sa ON i.src_a = sa.source JOIN sz sb ON i.src_b = sb.source
         |ORDER BY src_a, src_b""".stripMargin,
    // Uncapped full-vocabulary overlap, every pair (the twin's contract);
    // exact because the sketches are lossless at this SF.
    "d16_scale" ->
      s"""WITH $SH_CTE,
         |inv AS (SELECT doc_id, unnest(shingles) AS sh FROM sh_docs),
         |e AS (SELECT DISTINCT d.source, i.sh
         |      FROM inv i JOIN ${graft.Tables.validDocsSql} d USING (doc_id)),
         |sz AS (SELECT source, count(*) AS n_sh FROM e GROUP BY 1),
         |i AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_inter
         |      FROM e a JOIN e b ON a.sh = b.sh AND a.source < b.source GROUP BY 1, 2)
         |SELECT sa.source AS src_a, sb.source AS src_b,
         |  CAST(sa.n_sh AS DOUBLE) AS n_a_est, CAST(sb.n_sh AS DOUBLE) AS n_b_est,
         |  CAST(sa.n_sh + sb.n_sh - COALESCE(i.n_inter, 0) AS DOUBLE) AS union_ndv,
         |  CAST(COALESCE(i.n_inter, 0) AS DOUBLE) AS inter_ndv,
         |  CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
         |    / CAST(sa.n_sh + sb.n_sh - COALESCE(i.n_inter, 0) AS DOUBLE) AS jaccard
         |FROM sz sa JOIN sz sb ON sa.source < sb.source
         |LEFT JOIN i ON i.src_a = sa.source AND i.src_b = sb.source
         |ORDER BY src_a, src_b""".stripMargin,
    // d9's connected-components closure verbatim, then the keep-longest argmax.
    "d17_survivorship" ->
      s"""WITH RECURSIVE $SH_CTE,
         |$INV_CTE,
         |$CAP_CTE,
         |$KEEP_CTE,
         |$PAIRS_CTE,
         |$CLOSURE_CTES,
         |$SURVIVOR_CTES
         |$SURVIVOR_SELECT""".stripMargin,
    "d17_scale" ->
      s"""WITH RECURSIVE $SH_CTE,
         |$INV_CTE,
         |$UNCAPPED_PAIRS_CTE,
         |$CLOSURE_CTES,
         |$SURVIVOR_CTES
         |$SURVIVOR_SELECT""".stripMargin,
    // Mirrors d18 component for component: md5(doc_id) sample order,
    // md5('j:shingle') 32-bit component hashes, list_min per component,
    // exact shingle Jaccard, and DECIMAL(38,9)-summed means through the
    // VARCHAR route on both casts.
    "d18_minhash_calibration" ->
      s"""WITH $SH_CTE,
         |hk AS (SELECT doc_id, shingles, md5(CAST(doc_id AS VARCHAR)) AS hkey FROM sh_docs),
         |samp AS (SELECT doc_id, shingles FROM hk ORDER BY hkey, doc_id LIMIT 128),
         |sig AS (
         |  SELECT doc_id, shingles,
         |    list_transform(range(32), j -> list_min(list_transform(shingles,
         |      sh -> CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || sh), 1, 8)) AS BIGINT)))) AS mh
         |  FROM samp),
         |pairs AS (
         |  SELECT len(list_filter(list_zip(a.mh, b.mh), z -> z[1] = z[2])) AS matches,
         |    CAST(len(list_intersect(a.shingles, b.shingles)) AS BIGINT) AS inter,
         |    CAST(len(a.shingles) AS BIGINT) AS na, CAST(len(b.shingles) AS BIGINT) AS nb
         |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id),
         |sc AS (
         |  SELECT CAST(matches AS DOUBLE) / 32.0 AS est,
         |    CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) AS jac
         |  FROM pairs),
         |bb AS (
         |  SELECT CAST(floor(est * 10) AS INT) AS bucket,
         |    CAST(CAST(jac AS VARCHAR) AS DECIMAL(38,9)) AS jd,
         |    CAST(CAST(abs(est - jac) AS VARCHAR) AS DECIMAL(38,9)) AS ed
         |  FROM sc)
         |SELECT bucket, count(*) AS n_pairs,
         |  CAST(CAST(sum(jd) AS VARCHAR) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_jaccard,
         |  CAST(CAST(sum(ed) AS VARCHAR) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_abs_err
         |FROM bb GROUP BY 1 ORDER BY 1""".stripMargin,
    // Mirrors d19: grouping on raw text ≡ the engine's md5(text) partition
    // key (same equivalence classes, no cross-engine hash dependency); the
    // hard-dedup representative is the group's min doc_id, attributed to
    // its source; weights stay exact integer ppm until the final divide.
    "d19_dup_weights" ->
      s"""WITH g AS (
         |  SELECT source, doc_id,
         |    CAST(count(*) OVER (PARTITION BY text) AS BIGINT) AS n,
         |    min(doc_id) OVER (PARTITION BY text) AS keep_id
         |  FROM ${graft.Tables.validDocsSql} documents)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN doc_id = keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_hard,
         |  max(n) AS max_copies,
         |  CAST(sum(1000000 // n) AS DOUBLE) / 1e6 AS eff_docs
         |FROM g GROUP BY 1 ORDER BY source NULLS FIRST""".stripMargin,
    // Stage-by-stage mirror of the fused pipeline: SH_CTE is the d8
    // shingle contract verbatim; the decontamination is an anti-join
    // (NOT EXISTS — the q46 null-semantics lesson) on the set-reduced
    // eval shingle universe; the manifest is t28's shard arithmetic.
    "p2_pretrain_shards" -> P2_SQL,
    // The incremental-maintenance contract: the oracle recomputes the
    // WHOLE pipeline from the full corpus (p2's SQL verbatim) and never
    // sees the vintage split, the delta adds, or the retroactive
    // retraction — hash equality certifies the maintenance identity.
    "p4_incremental_pretrain" -> P2_SQL,
    // d20: the whole pipeline (tokenize → K-window → global count ≥ 2 →
    // join back → islands merge → per-doc rollup) reproduced relationally;
    // the window key is the exact K-token text, so no hash enters the
    // contract. d20_scale keys by xxhash64 instead (engine-internal) and
    // yields identical rows absent 64-bit collisions — same oracle.
    "d20_substring_spans" -> D20_SQL,
    "d20_scale" -> D20_SQL,
    // d21: the decontamination twin — eval windows as a distinct set,
    // train windows semi-joined against it, then d20's islands merge and
    // rollup verbatim. d21_scale (xxhash64 keys) shares it.
    "d21_substr_decontam" -> D21_SQL,
    "d21_scale" -> D21_SQL,
    // p6: the WHOLE composed write reproduced relationally — p2's
    // gate/dedup/decontam CTEs, d20's island CTEs over the surviving
    // population, the token-complement cut (covered positions expanded
    // per island, anti-joined against the token index), and the shard
    // rollup with the doc_id-ordered md5 over surviving texts.
    "p6_substr_pretrain" -> P6_SQL
  )

  private val D20_SQL: String =
    s"""WITH t AS (
      |  SELECT doc_id,
      |    CASE WHEN trim(text) = '' THEN []
      |         ELSE string_split_regex(trim(text), '\\s+') END AS w
      |  FROM ${graft.Tables.validDocsSql} documents),
      |big AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens, w
      |        FROM t WHERE len(w) >= $SubstrK),
      |wins AS (
      |  SELECT doc_id, n_tokens,
      |    unnest(list_transform(range(len(w) - $SubstrK + 1),
      |      i -> struct_pack(pos := i,
      |             wt := array_to_string(list_slice(w, CAST(i + 1 AS BIGINT),
      |                                              CAST(i + $SubstrK AS BIGINT)), ' ')))) AS s
      |  FROM big),
      |w2 AS (SELECT doc_id, n_tokens, s.pos AS pos, s.wt AS wt FROM wins),
      |dup AS (SELECT wt FROM w2 GROUP BY wt HAVING count(*) >= 2),
      |m AS (SELECT doc_id, n_tokens, pos FROM w2 JOIN dup USING (wt)),
      |isl AS (
      |  SELECT doc_id, n_tokens, pos,
      |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > $SubstrK
      |         THEN 1 ELSE 0 END AS brk
      |  FROM m),
      |isl2 AS (
      |  SELECT doc_id, n_tokens, pos,
      |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      |  FROM isl),
      |sp AS (SELECT doc_id, n_tokens, island, min(pos) AS sp, max(pos) AS ep
      |       FROM isl2 GROUP BY 1, 2, 3)
      |SELECT doc_id, n_tokens,
      |  CAST(count(*) AS BIGINT) AS n_spans,
      |  CAST(sum(ep - sp + $SubstrK) AS BIGINT) AS dup_tokens,
      |  CAST((CAST(sum(ep - sp + $SubstrK) AS BIGINT) * 1000000) // n_tokens AS BIGINT) AS dup_ppm
      |FROM sp GROUP BY 1, 2 ORDER BY doc_id""".stripMargin

  private val D21_SQL: String =
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |    CASE WHEN trim(text) = '' THEN []
       |         ELSE string_split_regex(trim(text), '\\s+') END AS w
       |  FROM ${graft.Tables.validDocsSql} documents),
       |wins AS (
       |  SELECT doc_id, source, CAST(len(w) AS BIGINT) AS n_tokens,
       |    s.pos AS pos, s.wt AS wt
       |  FROM (SELECT doc_id, source, w,
       |          unnest(list_transform(range(len(w) - $SubstrK + 1),
       |            i -> struct_pack(pos := i,
       |                   wt := array_to_string(list_slice(w, CAST(i + 1 AS BIGINT),
       |                                                    CAST(i + $SubstrK AS BIGINT)), ' ')))) AS s
       |        FROM t WHERE len(w) >= $SubstrK)),
       |ev AS (SELECT DISTINCT wt FROM wins WHERE source = 'src0'),
       |m AS (
       |  SELECT doc_id, n_tokens, pos FROM wins JOIN ev USING (wt)
       |  WHERE source IS NOT NULL AND source <> 'src0'),
       |isl AS (
       |  SELECT doc_id, n_tokens, pos,
       |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > $SubstrK
       |         THEN 1 ELSE 0 END AS brk
       |  FROM m),
       |isl2 AS (
       |  SELECT doc_id, n_tokens, pos,
       |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM isl),
       |sp AS (SELECT doc_id, n_tokens, island, min(pos) AS sp, max(pos) AS ep
       |       FROM isl2 GROUP BY 1, 2, 3)
       |SELECT doc_id, n_tokens,
       |  CAST(count(*) AS BIGINT) AS n_spans,
       |  CAST(sum(ep - sp + $SubstrK) AS BIGINT) AS contaminated_tokens,
       |  CAST((CAST(sum(ep - sp + $SubstrK) AS BIGINT) * 1000000) // n_tokens AS BIGINT) AS contam_ppm
       |FROM sp GROUP BY 1, 2 ORDER BY doc_id""".stripMargin

  private val P6_SQL: String =
    s"""WITH $SH_CTE,
       |gated AS (
       |  SELECT doc_id, text,
       |    CASE WHEN trim(text) = '' THEN []
       |         ELSE string_split_regex(trim(text), '\\s+') END AS w
       |  FROM ${graft.Tables.validDocsSql} documents
       |  WHERE source IS NOT NULL AND source <> 'src0'
       |    AND len((CASE WHEN trim(text) = '' THEN [] ELSE string_split_regex(trim(text), '\\s+') END)) >= 5),
       |dedup AS (
       |  SELECT doc_id, w,
       |    row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
       |  FROM gated),
       |evalsh AS (
       |  SELECT DISTINCT x.sh
       |  FROM (SELECT doc_id, unnest(shingles) AS sh FROM sh_docs) x
       |  JOIN ${graft.Tables.validDocsSql} dd ON dd.doc_id = x.doc_id AND dd.source = 'src0'),
       |contam AS (
       |  SELECT DISTINCT x.doc_id
       |  FROM (SELECT doc_id, unnest(shingles) AS sh FROM sh_docs) x
       |  JOIN ${graft.Tables.validDocsSql} dd
       |    ON dd.doc_id = x.doc_id AND dd.source IS NOT NULL AND dd.source <> 'src0'
       |  JOIN evalsh e ON e.sh = x.sh),
       |clean AS (
       |  SELECT doc_id, w FROM dedup t
       |  WHERE rn = 1 AND NOT EXISTS (SELECT 1 FROM contam c WHERE c.doc_id = t.doc_id)),
       |wins AS (
       |  SELECT doc_id, s.pos AS pos, s.wt AS wt
       |  FROM (SELECT doc_id,
       |          unnest(list_transform(range(len(w) - $SubstrK + 1),
       |            i -> struct_pack(pos := i,
       |                   wt := array_to_string(list_slice(w, CAST(i + 1 AS BIGINT),
       |                                                    CAST(i + $SubstrK AS BIGINT)), ' ')))) AS s
       |        FROM clean WHERE len(w) >= $SubstrK)),
       |dup AS (SELECT wt FROM wins GROUP BY wt HAVING count(*) >= 2),
       |m AS (SELECT doc_id, pos FROM wins JOIN dup USING (wt)),
       |isl AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > $SubstrK
       |         THEN 1 ELSE 0 END AS brk
       |  FROM m),
       |isl2 AS (
       |  SELECT doc_id, pos,
       |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM isl),
       |spn AS (SELECT doc_id, island, min(pos) AS sp, max(pos) + $SubstrK - 1 AS ce
       |        FROM isl2 GROUP BY 1, 2),
       |cov AS (SELECT doc_id, unnest(list_transform(range(ce - sp + 1), j -> sp + j)) AS pos
       |        FROM spn),
       |toks AS (
       |  SELECT doc_id, s.pos AS pos, s.tok AS tok
       |  FROM (SELECT doc_id,
       |          unnest(list_transform(range(len(w)),
       |            i -> struct_pack(pos := i, tok := w[CAST(i + 1 AS BIGINT)]))) AS s
       |        FROM clean)),
       |surv AS (
       |  SELECT t.doc_id, t.pos, t.tok FROM toks t
       |  WHERE NOT EXISTS (SELECT 1 FROM cov c WHERE c.doc_id = t.doc_id AND c.pos = t.pos)),
       |ctexts AS (
       |  SELECT doc_id, array_to_string(list(tok ORDER BY pos), ' ') AS ctext,
       |    count(*) AS kept
       |  FROM surv GROUP BY 1),
       |alln AS (
       |  SELECT c.doc_id, CAST(len(c.w) AS BIGINT) AS n_tokens,
       |    coalesce(x.ctext, '') AS ctext,
       |    CAST(coalesce(x.kept, 0) AS BIGINT) AS kept
       |  FROM clean c LEFT JOIN ctexts x USING (doc_id))
       |SELECT shard, count(*) AS n_docs,
       |  CAST(sum(kept) AS BIGINT) AS n_tokens,
       |  CAST(sum(n_tokens - kept) AS BIGINT) AS cut_tokens,
       |  CAST(sum(len(ctext)) AS BIGINT) AS n_bytes,
       |  md5(string_agg(ctext, chr(1) ORDER BY doc_id)) AS clean_md5
       |FROM (SELECT *, CAST(strpos('0123456789abcdef',
       |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS INT) AS shard
       |      FROM alln)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  private val P2_SQL: String =
      s"""WITH $SH_CTE,
         |gated AS (
         |  SELECT doc_id, text, n_chars,
         |    CAST(len((CASE WHEN trim(text) = '' THEN [] ELSE string_split_regex(trim(text), '\\s+') END)) AS BIGINT) AS n_tokens
         |  FROM ${graft.Tables.validDocsSql} documents
         |  WHERE source IS NOT NULL AND source <> 'src0'
         |    AND len((CASE WHEN trim(text) = '' THEN [] ELSE string_split_regex(trim(text), '\\s+') END)) >= 5),
         |dedup AS (
         |  SELECT doc_id, n_chars, n_tokens,
         |    row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
         |  FROM gated),
         |evalsh AS (
         |  SELECT DISTINCT x.sh
         |  FROM (SELECT doc_id, unnest(shingles) AS sh FROM sh_docs) x
         |  JOIN ${graft.Tables.validDocsSql} dd ON dd.doc_id = x.doc_id AND dd.source = 'src0'),
         |contam AS (
         |  SELECT DISTINCT x.doc_id
         |  FROM (SELECT doc_id, unnest(shingles) AS sh FROM sh_docs) x
         |  JOIN ${graft.Tables.validDocsSql} dd
         |    ON dd.doc_id = x.doc_id AND dd.source IS NOT NULL AND dd.source <> 'src0'
         |  JOIN evalsh e ON e.sh = x.sh),
         |clean AS (
         |  SELECT doc_id, n_chars, n_tokens FROM dedup t
         |  WHERE rn = 1 AND NOT EXISTS (SELECT 1 FROM contam c WHERE c.doc_id = t.doc_id))
         |SELECT CAST(strpos('0123456789abcdef',
         |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS INT) AS shard,
         |  count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(sum(n_chars) AS BIGINT) AS n_bytes
         |FROM clean GROUP BY 1 ORDER BY 1""".stripMargin

  // d17's survivorship presentation over the `cc` closure — one
  // definition for the capped and scale oracles.
  private[queries] val SURVIVOR_CTES =
    s"""m AS (SELECT cc.doc_id, cc.cluster_id, d.n_chars
      |      FROM cc JOIN ${graft.Tables.validDocsSql} d USING (doc_id)),
      |r AS (SELECT *,
      |    count(*) OVER (PARTITION BY cluster_id) AS n_members,
      |    row_number() OVER (PARTITION BY cluster_id
      |      ORDER BY n_chars DESC, doc_id) AS rn
      |  FROM m)""".stripMargin
  private[queries] val SURVIVOR_SELECT =
    """SELECT cluster_id, doc_id AS kept_doc, n_chars AS kept_chars,
      |  CAST(n_members AS BIGINT) AS n_members,
      |  CAST(n_members - 1 AS BIGINT) AS n_dropped
      |FROM r WHERE rn = 1 ORDER BY cluster_id""".stripMargin
}
