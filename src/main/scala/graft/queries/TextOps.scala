package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Text-analysis operators for a training-data pipeline over `documents`:
  * language ID (marker-word heuristic), quality scoring, token counting,
  * and document fingerprinting. All pure Catalyst expressions (no UDFs), so
  * they stay inside whole-stage codegen and scale linearly with document
  * count — at 100 TB these are embarrassingly parallel scan+project jobs.
  *
  * Every transform is mirrored exactly in the DuckDB oracle (same replace /
  * split / md5 semantics) so results hash-match.
  */
object TextOps {

  /** Non-overlapping occurrence count of `marker` in `padded`, via
    * length-delta of replace — identical semantics in Spark and DuckDB. */
  private def occ(padded: Column, marker: String): Column =
    (length(padded) - length(regexp_replace(padded, java.util.regex.Pattern.quote(marker), ""))) / lit(marker.length)

  private def langScore(padded: Column, markers: Seq[String]): Column =
    markers.map(m => occ(padded, m)).reduce(_ + _).cast("bigint")

  // Marker (function) words per language; padded-space matching.
  val MARKERS: Map[String, Seq[String]] = Map(
    "en" -> Seq(" the ", " and ", " of "),
    "de" -> Seq(" der ", " und ", " die "),
    "fr" -> Seq(" le ", " la ", " et "),
    "es" -> Seq(" el ", " los ", " y "))

  /** Sorted-distinct-word md5 fingerprint (shared with d2_dedup_fingerprint
    * so the two operators can never drift apart). */
  private[queries] def fingerprintCol: Column =
    md5(array_join(array_sort(array_distinct(
      split(lower(col("text")), "\\s+"))), " ").cast("binary"))

  /** Whitespace tokens with the BLANK-TEXT contract: empty or whitespace-only
    * text has ZERO tokens. Raw `split(trim(x), "\\s+")` yields `[""]` there —
    * a phantom token that inflates every count, poisons every ratio with a
    * 0/1 instead of a NULL 0/0, and plants an empty-string word in the
    * vocabulary aggregates (r8 adversarial audit: t2/t3/t6/t7/t9/t12/t15/
    * t17/t18/t19/t20 all silently disagreed with the oracle on blank docs).
    * Mirrored in every oracle as
    * `CASE WHEN trim(x) = '' THEN [] ELSE string_split_regex(trim(x), '\\s+') END`.
    * The typed-kernel family (wordsOf: t13/t14/t16, shingles) keeps Java
    * split semantics — its oracles mirror THOSE; the two tokenizations are
    * each self-consistent and both oracle-pinned. */
  private[queries] def wsTokens(c: Column): Column =
    when(trim(c) === "", array().cast("array<string>"))
      .otherwise(split(trim(c), "\\s+"))

  /** md5 of the decimal doc_id: the hash a manifest shards on (`h`). */
  private[queries] val docHash: Column = md5(col("doc_id").cast("string").cast("binary"))

  /** The manifest shard of a doc, its md5-nibble: the first hex digit of
    * `h` ([[docHash]]) — t28's geometry, shared by t28, p2, p4 and p6. */
  private[queries] val shardKey: Column =
    expr("CAST(instr('0123456789abcdef', substring(h, 1, 1)) - 1 AS INT)")

  /** (doc_id, n_chars, n_tokens, h, shard) per document: the rows every
    * shard manifest (t28, p2, p4) aggregates. */
  private[queries] def shardRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("n_chars"),
        size(wsTokens(col("text"))).cast("bigint").as("n_tokens"), docHash.as("h"))
      .withColumn("shard", shardKey)

  /** t28's per-shard summary over `pred`-selected docs, endpoints carried
    * as mergeable "h:zero-padded-id" tags — shared by the full plan, its
    * split-merge proof, and any incremental caller. */
  private def shardAgg(s: SparkSession, d: String, pred: Column): org.apache.spark.sql.DataFrame =
    shardRows(Tables.validDocuments(s, d).filter(pred))
      // 19 = max digits of a non-negative Long: lpad TRUNCATES longer
      // inputs, so a narrower pad would silently corrupt the endpoint tags
      // (and break the (h, doc_id) ⇔ string-order isomorphism the
      // manifest-merge proof rests on) once doc_id crosses 1e12.
      .withColumn("tag",
        concat(col("h"), lit(":"), lpad(col("doc_id").cast("string"), 19, "0")))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("bigint").as("n_tokens"),
        sum(col("n_chars")).cast("bigint").as("n_bytes"),
        min(col("tag")).as("first_tag"),
        max(col("tag")).as("last_tag"))

  /** Presentation shared by t28_shard_plan and t28_manifest_merge: the
    * merged summaries must render identically or the hash proof is void. */
  private def shardPresent(agg: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    agg.select(col("shard"), col("n_docs"), col("n_tokens"), col("n_bytes"),
      substring(col("first_tag"), 34, 19).cast("bigint").as("first_doc"),
      substring(col("last_tag"), 34, 19).cast("bigint").as("last_doc"))
      .orderBy(col("shard"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Language ID: argmax of marker-word counts, 'und' when all zero.
    "t1_langid" -> { (s, d) =>
      val padded = concat(lit(" "), lower(col("text")), lit(" "))
      val scores = MARKERS.toSeq.sortBy(_._1).map { case (l, ms) => l -> langScore(padded, ms) }
      val best = greatest(scores.map(_._2): _*)
      val pred = when(best <= 0, "und")
        .otherwise(scores.foldRight(lit("und")) { case ((l, sc), acc) =>
          when(sc === best, l).otherwise(acc)
        })
      Tables.validDocuments(s, d)
        .select(col("doc_id") +: scores.map { case (l, sc) => sc.as(s"score_$l") } :+
          pred.as("pred_lang"): _*)
        .orderBy(col("doc_id"))
    },
    // Quality scoring: length / word stats / stopword ratio → composite.
    "t2_quality" -> { (s, d) =>
      val padded = concat(lit(" "), lower(col("text")), lit(" "))
      val words = wsTokens(lower(col("text")))
      val nWords = size(words).cast("bigint")
      val nChars = length(col("text")).cast("bigint")
      val nStop = langScore(padded, Seq(" the ", " a ", " of ", " and "))
      // Token-less docs (empty/whitespace-only text): NULL ratios, matching
      // DuckDB's x/0 → NULL — Spark's IEEE double division would yield
      // NaN/Inf here and silently break oracle parity (r8 audit).
      val safeDiv = (num: Column) =>
        when(nWords =!= 0, num.cast("double") / nWords.cast("double"))
      Tables.validDocuments(s, d)
        .select(
          col("doc_id"), nChars.as("n_chars"), nWords.as("n_words"),
          nStop.as("n_stop"),
          safeDiv(nChars).as("avg_word_len"),
          safeDiv(nStop).as("stop_ratio"),
          when(nWords >= 20 && nWords <= 80, 1.0).otherwise(0.0)
            .plus(safeDiv(nStop)).as("quality"))
        .orderBy(col("doc_id"))
    },
    // Token counting: whitespace tokens + a BPE-ish regex tokenization.
    "t3_tokens" -> { (s, d) =>
      Tables.validDocuments(s, d)
        .select(
          col("doc_id"),
          size(wsTokens(col("text"))).as("ws_tokens"),
          size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
            .as("re_tokens"))
        .orderBy(col("doc_id"))
    },
    // Document fingerprinting: md5 over the sorted distinct word set (the
    // OpenRefine "fingerprint" key-collision method) + group stats.
    "t4_fingerprint" -> { (s, d) =>
      Tables.validDocuments(s, d)
        .withColumn("fp", fingerprintCol)
        .groupBy(col("fp"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))
        .orderBy(col("fp"))
    },
    // Rolling-hash fingerprinting (Rabin–Karp / winnowing primitive) via
    // the custom codegen'd expressions poly_hash / rolling_min_hash —
    // O(text) per document, embarrassingly parallel; the oracle recomputes
    // every window directly (modular arithmetic, so exact equality).
    "t5_rolling_hash" -> { (s, d) =>
      import graft.functions.RollingHashFunctions.{poly_hash, rolling_min_hash}
      Tables.validDocuments(s, d)
        .select(col("doc_id"),
          // octet_length, not length: the rolling kernel hashes UTF-8
          // BYTES, and a non-ASCII char is >1 byte (r8 audit — `length`
          // counts codepoints and silently disagreed with the byte-wise
          // oracle on unicode text).
          octet_length(col("text")).cast("bigint").as("n_bytes"),
          poly_hash(col("text")).as("whole_hash"),
          rolling_min_hash(col("text"), 32).as("fp"))
        .orderBy(col("doc_id"))
    },
    // Token-window chunking for training sequences: 32-token windows at
    // stride 24 (8-token overlap), one output row per chunk. Pure Catalyst
    // (sequence/slice/array_join) — a narrow flatMap-shaped projection, no
    // shuffle, linear in corpus size.
    "t6_chunks" -> { (s, d) =>
      Tables.validDocuments(s, d)
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(0, int((size(w)-1)/24)), i -> array_join(slice(w, i*24+1, 32), ' '))"))
          .as(Seq("chunk_idx", "chunk")))
        .withColumn("n_tokens",
          when(col("chunk") === "", 0).otherwise(size(split(col("chunk"), " "))))
        .orderBy(col("doc_id"), col("chunk_idx"))
    },
    // Sequence packing: assign documents (in doc_id order, per source) to
    // fixed token-budget bins — the contiguous-prefix packing used to build
    // training batches. bin = exclusive-prefix-token-count div budget, a
    // single per-group window cumsum: scalable because the sequential scan
    // is per source group, never global.
    "t7_pack" -> { (s, d) =>
      val budget = 256L
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      Tables.validDocuments(s, d)
        .select(col("doc_id"), col("source"),
          size(wsTokens(col("text"))).cast("bigint").as("n_tokens"))
        .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .withColumn("bin",
          floor((col("cum_tokens") - col("n_tokens")) / lit(budget)).cast("bigint"))
        .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"), col("bin"))
        .orderBy(col("source"), col("doc_id"))
    },
    // Corpus-level top-k n-grams by document frequency (boilerplate /
    // contamination detection): one shingle pass, one groupBy(shingle)
    // shuffle of (shingle, 1) partial counts, top-k via TakeOrdered.
    "t8_topk_ngrams" -> { (s, d) =>
      Dedup.withShingles(s, d)
        .select(explode(col("shingles")).as("sh"))
        .groupBy(col("sh")).agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("sh")).limit(20)
    },
    // t8's SCALE TWIN (the q2/q57 pairing brought to text): corpus top-20
    // n-grams from ONE Misra–Gries summary instead of a full
    // (shingle, count) aggregation. t8's exact plan shuffles every
    // distinct shingle (vocabulary-linear exchange — fine until the
    // vocabulary is corpus-sized); here each partition builds a ≤ 2·cap
    // string→count map and the exchange carries ONE bounded summary per
    // partition into a single merge. Below cap distinct shingles the
    // summary is exact and t8's own oracle applies verbatim (16,245 <
    // 32,768 at verify SF); above it, the top-20 carries the n/cap
    // deviation bound and `err` says so (SketchSpec). Heavy-hitter
    // guarantee fit: a corpus-frequent n-gram (share > 1/cap) can never
    // be evicted, which is exactly the population top-20 asks about.
    "t8_scale" -> { (s, d) =>
      val cap = s.conf.get("spark.graft.sketch.ngramCap", "32768").toInt
      val hh = udaf(graft.functions.Sketches.SpaceSavingTopKStr(cap))
      Dedup.withShingles(s, d)
        .select(explode(col("shingles")).as("sh"))
        .agg(hh(col("sh")).as("hh"))
        .select(explode(slice(col("hh"), 1, 20)).as("e"))
        .select(col("e.key").as("sh"), col("e.cnt").as("df"))
        .orderBy(col("df").desc, col("sh"))
    },
    // Intra-document repetition (Gopher-style quality signal): the fraction
    // of duplicated word trigrams and the weight of the single most
    // repeated one — high values flag boilerplate/spam for filtering. The
    // trigram multiset never leaves its document, so this is a pure narrow
    // map (typed kernel, one HashMap per doc): NO shuffle at any scale.
    // Tokenization is the d3/d5/t8 shingle family's (lower, \\s+, limit -1).
    // The derived fractions are single-rounded IEEE divisions — hash-exact
    // across engines.
    "t13_repetition" -> { (s, d) =>
      import s.implicits._
      Tables.parallelized(Tables.validDocuments(s, d))
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val words = Dedup.wordsOf(text)
          val counts = new java.util.HashMap[String, Int]()
          var i = 0
          while (i + 2 < words.length) {
            counts.merge(words(i) + " " + words(i + 1) + " " + words(i + 2), 1,
              (a, b) => Integer.sum(a, b))
            i += 1
          }
          var nTri = 0L
          var maxRep = 0L
          val it = counts.values.iterator
          while (it.hasNext) {
            val c = it.next().toLong
            nTri += c
            if (c > maxRep) maxRep = c
          }
          (id, words.length.toLong, nTri, counts.size.toLong, maxRep)
        })
        .toDF("doc_id", "n_tokens", "n_trigrams", "n_distinct", "max_rep")
        .filter(col("n_trigrams") > 0)
        .withColumn("dup_frac",
          lit(1.0) - col("n_distinct").cast("double") / col("n_trigrams").cast("double"))
        .withColumn("top_frac",
          col("max_rep").cast("double") / col("n_trigrams").cast("double"))
        .orderBy(col("doc_id"))
    },
    // Bigram novelty/boilerplate score: the mean corpus document-frequency
    // of a doc's word bigrams — high avg_df flags template/boilerplate
    // text, low flags novel (or noisy) text. Two shuffles, both on the
    // bigram key (the DF count and the re-join), then a per-doc collapse;
    // the sums are integral (exact, order-free), the final ratio is one
    // IEEE division — hash-safe. Tokenization = the shingle family's.
    "t14_bigram_novelty" -> { (s, d) =>
      import s.implicits._
      val bigrams = Tables.parallelized(Tables.validDocuments(s, d))
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions(_.flatMap { case (id, t) =>
          val w = Dedup.wordsOf(t)
          (0 until w.length - 1).iterator.map(i => (id, w(i) + " " + w(i + 1)))
        })
        .toDF("doc_id", "bg")
      val dfc = bigrams.distinct()
        .groupBy(col("bg")).agg(count(lit(1)).as("bg_df"))
      bigrams.join(dfc, "bg")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("bg_df")).as("sum_df"))
        .withColumn("avg_df",
          col("sum_df").cast("double") / col("n_bigrams").cast("double"))
        .orderBy(col("doc_id"))
    },
    // Vocabulary table with document frequency and the idf ratio — the
    // corpus stats a quality/filtering pipeline keys on. Distinct words per
    // doc, one groupBy(word) shuffle; n_docs joins in as a broadcast scalar.
    // The ratio N/df is emitted instead of ln(N/df): IEEE division is
    // bit-identical across engines, ln is libm-dependent (JVM fdlibm vs
    // DuckDB's system libm differ by an ulp on some inputs — measured) and
    // would break the hash gate; callers take the log themselves, which is
    // monotone in the ratio anyway.
    "t9_vocab_idf" -> { (s, d) =>
      val words = Tables.validDocuments(s, d)
        .select(explode(array_distinct(wsTokens(lower(col("text"))))).as("word"))
      val dfc = words.groupBy(col("word")).agg(count(lit(1)).as("df"))
      val n = Tables.validDocuments(s, d).agg(count(lit(1)).as("n_docs"))
      dfc.crossJoin(broadcast(n))
        .withColumn("inv_df", col("n_docs").cast("double") / col("df").cast("double"))
        .select(col("word"), col("df"), col("n_docs"), col("inv_df"))
        .orderBy(col("word"))
    },
    // Deterministic content-hash sampling (~1/16): the reproducible,
    // cluster-size-independent alternative to rand()-based sample() — the
    // same doc is in or out on every run, every executor count, every
    // engine (md5 parity with the oracle is pinned by t4). A narrow
    // filter+project: no shuffle, trivially linear at any scale.
    "t10_hash_sample" -> { (s, d) =>
      Tables.validDocuments(s, d)
        .filter(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1) === "0")
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    },
    // Stratified (per-source quota) sampling: exactly K docs per source,
    // chosen by md5 order — deterministic across runs/cluster sizes/engines
    // (t10's rate-sampling sibling; quotas are what a training mix actually
    // specifies: "N docs from each source", not "p% of whatever arrives").
    // Scale shape: one hash shuffle on source; the rk ≤ K filter on
    // row_number is rewritten by Spark into WindowGroupLimit, so each map
    // task keeps a K-row heap and the sort never materializes a full
    // source partition (pinned in PlanSpec).
    "t11_stratified_sample" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val K = 10
      val w = Window.partitionBy(col("source"))
        .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
      Tables.validDocuments(s, d)
        .select(col("doc_id"), col("source"))
        .withColumn("rk", row_number().over(w).cast("bigint"))
        .filter(col("rk") <= K)
        .orderBy(col("source"), col("rk"))
    },
    // Training-mixture construction under a TOKEN budget: each source
    // contributes docs (in deterministic md5 order) until its cumulative
    // whitespace-token count would exceed the per-source budget — quotas
    // in real mixtures are specified in tokens, not docs (t11's sibling).
    // One shuffle on source; the running sum is a frame cumsum over the
    // per-source sort, linear per group. Deterministic for a FIXED corpus
    // (md5 order); unlike t10's per-doc rate sampling, the admitted set
    // shifts when the corpus grows — new docs can land earlier in hash
    // order and displace the budget prefix — so pin the corpus snapshot
    // when reproducibility across runs matters.
    "t12_token_budget_mix" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val BUDGET = 800L
      val w = Window.partitionBy(col("source"))
        .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.validDocuments(s, d)
        .select(col("doc_id"), col("source"),
          size(wsTokens(col("text"))).cast("bigint").as("n_tokens"))
        .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .filter(col("cum_tokens") <= BUDGET)
        // doc_id tiebreak: zero-token docs tie on cum_tokens, and an
        // unordered tie is a row-order lottery against the oracle.
        .orderBy(col("source"), col("cum_tokens"), col("doc_id"))
    },
    // Blocklist scrub (the PII/ToS-masking shape: emails, phone numbers,
    // trademarked terms — here a term blocklist, since the corpus is plain
    // words): every blocklisted token is replaced with a mask and the
    // replacement count emitted, so a filtering stage can drop docs whose
    // masked fraction is too high. Pure narrow scan+project (regexp_replace
    // + regexp_extract_all are codegen'd) — no shuffle, linear at 100 TB.
    // The pattern stays inside the regex subset Java and RE2 share
    // (alternation, \\b word boundaries), so Spark and DuckDB agree exactly.
    "t15_blocklist_scrub" -> { (s, d) =>
      val pat = "\\b(customer|vector|spark)\\b"
      val nMasked = size(regexp_extract_all(col("text"), lit(pat), lit(0))).cast("bigint")
      val nWords = size(wsTokens(col("text"))).cast("bigint")
      Tables.validDocuments(s, d)
        .select(
          col("doc_id"),
          nMasked.as("n_masked"),
          // NULL for token-less docs — DuckDB x/0 parity (t2's guard).
          when(nWords =!= 0, nMasked.cast("double") / nWords.cast("double"))
            .as("masked_frac"),
          regexp_replace(col("text"), pat, "[MASKED]").as("scrubbed"))
        .orderBy(col("doc_id"))
    },
    // Lexical diversity (quality signal alongside t2/t13): type-token ratio
    // and hapax-legomenon fraction — low TTR flags repetitive/boilerplate
    // text, high hapax flags noisy/OCR-garbled text. The word multiset
    // never leaves its document (t13's pattern: one HashMap per doc in a
    // typed kernel), so this is a pure narrow map — NO shuffle at any
    // scale. Tokenization is the shingle family's (wordsOf).
    "t16_lexical_diversity" -> { (s, d) =>
      import s.implicits._
      Tables.parallelized(Tables.validDocuments(s, d))
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val words = Dedup.wordsOf(text)
          val counts = new java.util.HashMap[String, Int]()
          var i = 0
          while (i < words.length) {
            counts.merge(words(i), 1, (a, b) => Integer.sum(a, b))
            i += 1
          }
          var hapax = 0L
          val it = counts.values.iterator
          while (it.hasNext) if (it.next() == 1) hapax += 1
          (id, words.length.toLong, counts.size.toLong, hapax)
        })
        .toDF("doc_id", "n_words", "n_distinct", "n_hapax")
        .withColumn("ttr",
          col("n_distinct").cast("double") / col("n_words").cast("double"))
        .withColumn("hapax_frac",
          col("n_hapax").cast("double") / col("n_distinct").cast("double"))
        .orderBy(col("doc_id"))
    },
    // Composite quality GATE — the stage that actually drops documents:
    // named per-signal booleans (length band, lexical diversity, stopword
    // presence — t2/t16's signals) plus the final keep flag, so a corpus
    // report can attribute every rejection. Pure Catalyst scan+project
    // (array_distinct for TTR, no kernel needed), zero shuffles; the
    // threshold comparisons sit on IEEE divisions both engines compute
    // identically, so the booleans can never disagree at the boundary.
    "t17_quality_gate" -> { (s, d) =>
      val words = wsTokens(lower(col("text")))
      val nWords = size(words).cast("bigint")
      val nDistinct = size(array_distinct(words)).cast("bigint")
      val padded = concat(lit(" "), lower(col("text")), lit(" "))
      val nStop = langScore(padded, Seq(" the ", " a ", " of ", " and "))
      // NULL ratios for token-less docs (t2's DuckDB x/0 parity guard);
      // the derived booleans go NULL too — identically on both engines —
      // and `keep` still resolves FALSE via the three-valued AND with the
      // false length gate.
      val ttr = when(nWords =!= 0, nDistinct.cast("double") / nWords.cast("double"))
      val stopRatio = when(nWords =!= 0, nStop.cast("double") / nWords.cast("double"))
      val lenOk = nWords.between(20, 80)
      val ttrOk = ttr >= 0.7
      val stopOk = stopRatio > 0.0
      // r16: parallelized — the tokenize/regex map over a single small
      // parquet file otherwise runs in ONE task (scale-adaptive fan-out).
      Tables.parallelized(Tables.validDocuments(s, d))
        .select(col("doc_id"), nWords.as("n_words"), ttr.as("ttr"),
          stopRatio.as("stop_ratio"), lenOk.as("len_ok"), ttrOk.as("ttr_ok"),
          stopOk.as("stop_ok"), (lenOk && ttrOk && stopOk).as("keep"))
        .orderBy(col("doc_id"))
    },
    // End-to-end pipeline composition — the whole point of the library in
    // one plan: quality-gate (t17's length band) → exact dedup keeping the
    // first copy (d1's rule) → token-window chunking (t6's geometry) →
    // per-source corpus stats. Everything fuses into ONE job — no
    // intermediate tables, Catalyst sees the whole lineage: the gate is a
    // scan-level filter, the dedup's rn=1 rewrites to a PARTIAL+final
    // WindowGroupLimit (each map task forwards one row per text before
    // the shuffle — at 100 TB the dedup exchange carries survivors, not
    // the corpus), chunking is a narrow flatMap, and the rollup is the
    // count-distinct two-phase aggregate. Three keyed exchanges total,
    // zero joins (pinned in PlanSpec).
    "p1_e2e_pipeline" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val nWords = size(split(trim(lower(col("text"))), "\\s+")).cast("bigint")
      val w = Window.partitionBy(col("text")).orderBy(col("doc_id"))
      Tables.validDocuments(s, d)
        .filter(nWords.between(20, 80))             // gate
        .withColumn("rn", row_number().over(w))     // exact dedup, first wins
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("source"),
          split(trim(col("text")), "\\s+").as("wd"))
        .select(col("doc_id"), col("source"), explode(expr(
          "transform(sequence(0, int((size(wd)-1)/24)), i -> size(slice(wd, i*24+1, 32)))"))
          .as("chunk_tokens"))                      // t6 chunk geometry
        .groupBy(col("source"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_chunks"),
          sum(col("chunk_tokens").cast("bigint")).as("n_tokens"))
        .orderBy(col("source"))
    },
    // Word co-occurrence with a PMI-style association score — the corpus
    // statistic behind collocation mining and topic drift checks. Pair
    // generation is a NARROW flatMap over each doc's sorted-distinct word
    // array (transform+slice upper-triangle — no self-join, no shuffle
    // until the pair count), so the only exchanges are the two counting
    // aggregates; doc frequencies and N broadcast back onto the pair
    // counts. PMI is emitted as the RATIO p(x,y)/(p(x)p(y)) =
    // n_xy·N / (df_x·df_y) — exact integer products, ONE IEEE division —
    // rather than its log (libm ulp drift; t9's recipe). Pair cardinality
    // is vocab², not corpus-sized: at 100 TB the df broadcast stays small
    // exactly when the statistic is meaningful, and a df-cap (d5) bounds
    // the narrow flatMap's per-doc fan-out for degenerate vocabularies.
    "t18_pmi_cooccur" -> { (s, d) =>
      // r16: parallelized — the per-doc pair explode is quadratic in the
      // distinct-word count (~20k pairs/doc); over a single small parquet
      // file it ran as ONE 1.5 s task at sf0.1 (scale-adaptive fan-out).
      val withWords = Tables.parallelized(Tables.validDocuments(s, d))
        .select(col("doc_id"),
          array_sort(array_distinct(wsTokens(lower(col("text"))))).as("ws"))
      val pairs = withWords.select(explode(expr(
          "flatten(transform(ws, (x, i) -> " +
            "transform(slice(ws, i + 2, size(ws)), y -> struct(x AS w1, y AS w2))))"))
          .as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      val cxy = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_xy"))
      val dfc = withWords.select(explode(col("ws")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("df"))
      val n = Tables.validDocuments(s, d).agg(count(lit(1)).as("n_docs"))
      cxy
        .join(broadcast(dfc.toDF("w1", "df_a")), "w1")
        .join(broadcast(dfc.toDF("w2", "df_b")), "w2")
        .crossJoin(broadcast(n))
        // Products ride DECIMAL (the e22 overflow lesson): n_xy·n_docs and
        // df_a·df_b are ≤ n_docs² — BIGINT wraps silently past ~3e9 docs.
        // The 38-digit integer products cast to DOUBLE correctly rounded,
        // identical to the old BIGINT path wherever that didn't overflow.
        .withColumn("pmi_ratio",
          (col("n_xy").cast("decimal(19,0)") * col("n_docs").cast("decimal(19,0)"))
            .cast("double") /
          (col("df_a").cast("decimal(19,0)") * col("df_b").cast("decimal(19,0)"))
            .cast("double"))
        .select(col("w1"), col("w2"), col("n_xy"), col("df_a"), col("df_b"),
          col("pmi_ratio"))
        .orderBy(col("w1"), col("w2"))
    },
    // TF-IDF keyword extraction: each doc's top-3 terms by tf·(N/df), the
    // linear-form score = tf·N/df — exact integer product over integer, ONE
    // IEEE division (t9's log-free recipe; the log is monotone, so top-k
    // under the ratio IS top-k under tf-idf). Term frequencies shuffle on
    // (doc_id, word) with map-side partials; doc frequencies derive from
    // the SAME aggregate (one extra vocab-keyed exchange over vocab-sized
    // input) and broadcast back; the per-doc argmax window re-shuffles
    // tf rows by doc_id. Ties (equal scores) break by word asc, so top-3
    // is a total order — deterministic on both engines.
    "t19_tfidf_terms" -> { (s, d) =>
      val tf = Tables.parallelized(Tables.validDocuments(s, d))
        .select(col("doc_id"),
          explode(wsTokens(lower(col("text")))).as("word"))
        .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
      val dfc = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
      val n = Tables.validDocuments(s, d).agg(count(lit(1)).as("n_docs"))
      val pick = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("word"))
      tf.join(broadcast(dfc), "word")
        .crossJoin(broadcast(n))
        // tf·n_docs in DECIMAL (the e22 overflow lesson): tf is bounded by
        // document length but n_docs is corpus-sized — the BIGINT product
        // leaves no headroom at 100 TB; the decimal product is exact and
        // casts to the identical correctly-rounded DOUBLE.
        .withColumn("score",
          (col("tf").cast("decimal(19,0)") * col("n_docs").cast("decimal(19,0)"))
            .cast("double") / col("df").cast("double"))
        .withColumn("rk", row_number().over(pick))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk"), col("word"), col("tf"), col("df"),
          col("score"))
        .orderBy(col("doc_id"), col("rk"))
    },
    // Input-validity audit for the documents domain (Tables.validDocuments'
    // companion): every text/dedup operator consumes the valid subset, so
    // this is the query that makes the excluded remainder OBSERVABLE — a
    // curation run reads it before trusting any downstream count. Reason
    // columns are independent indicators (a row can hit several); n_valid
    // is the exact row count every validDocuments consumer sees. One
    // map-side-combining aggregate over the scan — no shuffle beyond the
    // single-row final merge at any corpus size.
    "t21_doc_validity" -> { (s, d) =>
      Tables.documents(s, d)
        .agg(
          count(lit(1)).as("n_total"),
          sum(when(col("doc_id").isNull, 1L).otherwise(0L)).as("n_null_doc_id"),
          sum(when(col("text").isNull, 1L).otherwise(0L)).as("n_null_text"),
          sum(when(col("doc_id").isNotNull && col("text").isNotNull, 1L)
            .otherwise(0L)).as("n_valid"),
          sum(when(col("text") === "", 1L).otherwise(0L)).as("n_empty_text"),
          sum(when(col("text").isNotNull && col("text") =!= "" &&
            trim(col("text")) === "", 1L).otherwise(0L)).as("n_ws_only"),
          sum(when(col("lang").isNull, 1L).otherwise(0L)).as("n_null_lang"),
          sum(when(col("source").isNull, 1L).otherwise(0L)).as("n_null_source"))
    },
    // Corpus composition report: doc and token counts per (source, lang)
    // with each language's share within its source — the table a curation
    // run reads before setting t12's mixture weights. One aggregation
    // shuffle to domain-sized (source × lang) cells; the share window runs
    // over that tiny table; token counts are exact BIGINT sums and the
    // share is one exact-integer division.
    "t20_source_composition" -> { (s, d) =>
      val nTokens = size(wsTokens(col("text"))).cast("bigint")
      Tables.validDocuments(s, d)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(nTokens).as("n_tokens"))
        .withColumn("src_docs",
          sum(col("n_docs")).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("source")))
            .cast("bigint"))
        .withColumn("doc_share",
          col("n_docs").cast("double") / col("src_docs").cast("double"))
        .orderBy(col("source"), col("lang"))
    },
    // Token-PROPORTIONAL (weighted Bernoulli) sampling — the fourth member
    // of the sampling family (t10 fixed rate, t11 per-source quota, t12
    // token budget): each doc is admitted with probability ∝ its token
    // count, the standard importance-sampling shape when the downstream
    // unit is tokens, not documents. Reproducibility contract: NO float
    // randomness anywhere — the per-doc uniform is the first 32 md5 bits
    // (h32 ∈ [0, 2³²)) and the admit test  h32·wmax·4 < n_tokens·2³²  is
    // EXACT BIGINT arithmetic (admit prob = w/(4·wmax); overflow needs
    // wmax > 2²⁹ tokens/doc — not a document). Same doc ⇒ same verdict on
    // every run, executor count, and engine. Scale: narrow scan + one
    // 1-row broadcast stat (wmax); no shuffle at all.
    // BOUNDARY (adversarial-audit finding, hash-green on both engines but
    // worth knowing): max-normalization is outlier-sensitive — ONE
    // 10,000-token doc in the audit corpus shrank everyone else's admit
    // probability ~200× and the sample to a single doc. A robust
    // deployment caps the weight at a domain constant or a quantile
    // (q60's sketch gives p99 in the same pass) instead of max; max is
    // declared here because it keeps the admit test exact-integer and the
    // oracle regime unconditional.
    "t22_weighted_sample" -> { (s, d) =>
      val docs = Tables.validDocuments(s, d)
        .select(col("doc_id"), col("source"),
          size(wsTokens(col("text"))).cast("bigint").as("n_tokens"))
      val wmax = docs.agg(max(col("n_tokens")).as("wmax"))
      docs.crossJoin(broadcast(wmax))
        // Domain guard (ADVICE r12): the exact-integer admit test
        // h32·wmax·4 needs wmax ≤ 2²⁹ or the Long product wraps — Spark
        // (non-ANSI multiply path) would wrap SILENTLY while DuckDB
        // raises on BIGINT overflow, a silent cross-engine divergence.
        // Fail loudly on both engines instead (oracle mirrors with
        // error()); no real document has 5·10⁸ tokens, so tripping this
        // means the weight column needs capping, not a bigger integer.
        .filter(when(col("wmax") > lit(1L << 29), raise_error(format_string(
          "t22_weighted_sample: wmax=%s tokens exceeds the exact-integer " +
            "admit-test domain (2^29); cap document weights before sampling",
          col("wmax")))).isNull)
        .withColumn("h32",
          conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 8),
            16, 10).cast("long"))
        .filter(col("h32") * col("wmax") * lit(4L) <
          col("n_tokens") * lit(4294967296L))
        .select(col("doc_id"), col("source"), col("n_tokens"))
        .orderBy(col("doc_id"))
    },
    // PII scrub: sequential regex redaction — credit card → SSN → phone →
    // IPv4 → email, most-specific first, each category COUNTED on the text
    // state it actually sees (count-then-replace is the contract; a dotted
    // phone is a phone, not three IP octets, because phone scrubs first).
    // The document text is AUGMENTED with a deterministic doc_id-derived
    // PII suffix so every row exercises every pattern class regardless of
    // corpus content. Pure codegen'd regexp_replace/regexp_count — at
    // 100 TB an embarrassingly parallel scan+project, no shuffle (the
    // orderBy is presentation-only). Patterns are deliberately RE2 ∩ Java
    // (no backreferences, no lookaround) so the DuckDB twin runs them
    // VERBATIM; DuckDB needs the 'g' flag (its regexp_replace defaults to
    // first-match-only where Spark's is global).
    "t23_pii_scrub" -> { (s, d) =>
      val id = col("doc_id")
      val suffix = concat(
        lit(" reach me at user"), id.cast("string"),
        lit("@example.com or 555-"),
        lpad((id % 1000).cast("string"), 3, "0"), lit("-"),
        lpad((id % 10000).cast("string"), 4, "0"),
        lit(" host 10."), (id % 256).cast("string"), lit("."),
        expr("CAST((doc_id div 256) % 256 AS STRING)"),
        lit(".1 ssn 123-45-"),
        lpad((((id % 10000) * 3) % 10000).cast("string"), 4, "0"),
        lit(" card 4111-1111-1111-"),
        lpad((((id % 10000) * 7) % 10000).cast("string"), 4, "0"))
      // r16: parallelized — 12 chained regex passes per row over a
      // single-file scan otherwise run in ONE task (scale-adaptive fan-out).
      val scrubbed = PII_ORDER.zipWithIndex.foldLeft(
        Tables.parallelized(Tables.validDocuments(s, d))
          .withColumn("t0", concat(col("text"), suffix))) {
        case (df, ((cat, re, tok), i)) =>
          df.withColumn(s"n_$cat", regexp_count(col(s"t$i"), lit(re)).cast("bigint"))
            .withColumn(s"t${i + 1}", regexp_replace(col(s"t$i"), re, tok))
      }
      scrubbed.select(
          col("doc_id") +: PII_ORDER.map { case (cat, _, _) => col(s"n_$cat") } :+
            length(col(s"t${PII_ORDER.size}")).cast("bigint").as("scrub_len") :+
            md5(col(s"t${PII_ORDER.size}").cast("binary")).as("scrub_md5"): _*)
        .orderBy(col("doc_id"))
    },
    // Unigram-LM quality scoring (the CCNet/Gopher "perplexity filter"
    // shape): score each document by how SURPRISING its tokens are under
    // the corpus's own unigram distribution — junk/gibberish scores high
    // (rare-token-heavy), boilerplate/repetition scores low. The statistic
    // is the mean INVERSE token probability E[1/p̂] (arithmetic-mean
    // surprisal; ≥ true perplexity by AM–GM) plus the hapax ratio — chosen
    // over log-probability deliberately: cross-engine log()/exp() differ
    // in final ulps (the t9 inv_df lesson), while this is exact. Exactness
    // recipe: inverse probabilities are INTEGER floor-divisions in 1e-4
    // units ((N·10⁴) div tf — identical on both engines for positive
    // operands), the per-doc sum accumulates in DECIMAL(38,0) (exact,
    // fold-order-free; hapax-heavy 100 TB corpora overflow a BIGINT sum),
    // and the only doubles are two fixed divisions on identical operands.
    // Scale shape: the word-frequency join carries NO broadcast hint — a
    // web-scale vocabulary is hapax-dominated and corpus-sized, so a
    // t19-style forced dfc broadcast would OOM; AQE picks broadcast only
    // when the measured vocab actually fits. Everything else is
    // (doc, word)-grained aggregation over ONE materialized tokenization.
    // Token-less docs stay in the output with NULL scores (left join;
    // t2's empty-doc contract).
    "t24_unigram_surprisal" -> { (s, d) =>
      val docs = Tables.validDocuments(s, d)
      // Materialized: tf feeds THREE consumers (word totals, corpus total,
      // per-doc scoring) — left lazy, Catalyst inlines the scan+tokenize
      // into each one and the corpus is tokenized three times (d9's union
      // lesson; the pre-fix plan showed 3 parquet scans + 3 Generates).
      val tf = Tables.parallelized(docs)
        .select(col("doc_id"), explode(wsTokens(lower(col("text")))).as("word"))
        .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("c"))
        .localCheckpoint(true)
      val wt = tf.groupBy(col("word")).agg(sum(col("c")).as("tfw"))
      val n = tf.agg(sum(col("c")).as("n_total"))
      val scored = tf.join(wt, "word")
        .crossJoin(broadcast(n)) // 1-row total, not the vocabulary
        .withColumn("inv_p",
          expr("(CAST(n_total AS BIGINT) * 10000L) div tfw"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).cast("bigint").as("n_tokens"),
          sum(when(col("tfw") === 1, col("c")).otherwise(0L)).cast("bigint").as("n_hapax"),
          sum(col("c").cast("decimal(19,0)") * col("inv_p").cast("decimal(19,0)"))
            .as("sur"))
      docs.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          coalesce(col("n_hapax"), lit(0L)).as("n_hapax"),
          (col("sur").cast("double") / col("n_tokens").cast("double") / 1e4)
            .as("mean_inv_p"),
          (col("n_hapax").cast("double") / col("n_tokens").cast("double"))
            .as("hapax_ratio"))
        .orderBy(col("doc_id"))
    },
    // Per-source Zipf/vocabulary profile — the corpus-health dashboard row
    // behind "is this source worth its tokens": type-token ratio (low ⇒
    // templated/repetitive), hapax share of the vocabulary (high ⇒ noisy
    // long tail: OCR junk, random ids), and head concentration (share of
    // all tokens claimed by the top-100 words under the (freq DESC, word)
    // total order — high ⇒ boilerplate). t9's corpus-level vocabulary
    // made per-source and Zipf-shaped; t24's doc-level surprisal is the
    // same signal at the other granularity. Sources with ZERO tokens
    // (all-blank docs) have no vocabulary rows and so no profile row, on
    // both engines — the row set is defined by the word table. Scale
    // shape: one (source, word) exchange with map-side partials, then one
    // source-sized exchange; the rank window sorts each source's VOCAB
    // (bounded by distinct words, not corpus rows). All counts exact
    // BIGINT; the three ratios divide nonzero-by-construction totals.
    "t26_vocab_zipf" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val wf = Tables.validDocuments(s, d)
        .select(col("source"), explode(wsTokens(lower(col("text")))).as("word"))
        .groupBy(col("source"), col("word")).agg(count(lit(1)).as("f"))
      val rk = Window.partitionBy(col("source")).orderBy(col("f").desc, col("word"))
      wf.withColumn("rk", row_number().over(rk))
        .groupBy(col("source"))
        .agg(sum(col("f")).as("n_tokens"),
          count(lit(1)).as("vocab"),
          sum(when(col("f") === 1L, 1L).otherwise(0L)).as("hapax"),
          sum(when(col("rk") <= 100, col("f")).otherwise(0L)).as("top100_tokens"))
        .withColumn("ttr", col("vocab").cast("double") / col("n_tokens").cast("double"))
        .withColumn("hapax_ratio", col("hapax").cast("double") / col("vocab").cast("double"))
        .withColumn("top100_share",
          col("top100_tokens").cast("double") / col("n_tokens").cast("double"))
        .orderBy(col("source"))
    },
    // C4-style line-level cleaning (Raffel et al. 2020, §2.2 heuristics —
    // the web-corpus pre-filter that runs BEFORE dedup/quality models):
    // a line survives iff it has ≥5 whitespace words, ends in terminal
    // punctuation, and mentions neither "javascript" nor curly braces;
    // the doc-level lorem-ipsum flag marks boilerplate pages. Everything
    // runs as higher-order array functions on the split lines — one
    // narrow scan+project, NO explode/re-aggregate round trip, so at
    // 100 TB it is an embarrassingly parallel map with zero shuffles
    // (the final orderBy is presentation only). The cleaned text is
    // pinned by md5 so the contract covers the full surviving BYTES,
    // not just the counts. CRLF is normalized first ('\r' stripped) —
    // the hostile corpus's \r\n doc would otherwise fail the terminal-
    // punctuation rule on every engine differently.
    "t25_line_filter" -> { (s, d) =>
      val lines = split(regexp_replace(col("text"), "\r", ""), "\n")
      val keepRule = (l: Column) => {
        val t = trim(l)
        val words = when(t === "", array().cast("array<string>"))
          .otherwise(split(t, "\\s+"))
        size(words) >= 5 && t.rlike("[.!?\"']$") &&
          !lower(t).contains("javascript") && !l.contains("{") && !l.contains("}")
      }
      Tables.validDocuments(s, d)
        .withColumn("lines", lines)
        .withColumn("kept", filter(col("lines"), keepRule))
        .select(
          col("doc_id"),
          size(col("lines")).cast("bigint").as("n_lines"),
          size(col("kept")).cast("bigint").as("n_kept"),
          aggregate(col("kept"), lit(0L), (a, x) => a + length(x)).as("kept_chars"),
          (size(col("kept")).cast("double") / size(col("lines")).cast("double"))
            .as("keep_ratio"),
          lower(col("text")).contains("lorem ipsum").as("has_lorem"),
          md5(array_join(col("kept"), "\n").cast("binary")).as("clean_md5"))
        .orderBy(col("doc_id"))
    },
    // The first BPE merge round (Sennrich et al. 2016) — tokenizer
    // fitting as a corpus aggregate: weight each word by its corpus
    // frequency, count adjacent symbol pairs (here: character bigrams of
    // the initial alphabet), and rank merge candidates under the total
    // (count DESC, pair) order. Alphabet scoped to ASCII [a-z]+ words —
    // standard BPE pre-tokenization splits off digits/punctuation, and
    // the scoping also removes the one engine-parity hazard (grapheme
    // vs codepoint slicing on combining marks). Scale shape: one corpus
    // tokenize+aggregate to the VOCABULARY (bounded, not corpus-sized),
    // pair expansion runs on vocab rows only — at 100 TB the expensive
    // part is the word count, which is t9's exchange, and each further
    // merge round would rewrite just the vocab table. The rank window
    // sorts ≤26² aggregated rows — bounded, single-partition by design.
    "t27_bpe_pairs" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val words = Tables.validDocuments(s, d)
        .select(explode(wsTokens(lower(col("text")))).as("word"))
        .filter(col("word").rlike("^[a-z]+$") && length(col("word")) >= 2)
        .groupBy(col("word")).agg(count(lit(1)).as("c"))
      val pairs = words
        .select(col("c"), explode(expr(
          "transform(sequence(1, char_length(word)-1), i -> substring(word, i, 2))"))
          .as("pair"))
        .groupBy(col("pair")).agg(sum(col("c")).cast("bigint").as("n_occ"))
      val rk = Window.orderBy(col("n_occ").desc, col("pair"))
      pairs.withColumn("rnk", row_number().over(rk).cast("bigint"))
        .filter(col("rnk") <= 32)
        .select(col("rnk"), col("pair"), col("n_occ"))
        .orderBy(col("rnk"))
    },
    // Training-shard plan — the manifest a 100 TB shard WRITE is driven by.
    // Shard = first md5 nibble of the doc key (16 shards, t10's md5 idiom:
    // both engines hash the decimal string, so assignment is a pure
    // engine-free function of the key); intra-shard order = (md5, doc_id),
    // i.e. the standard deterministic pseudo-random permutation that
    // decorrelates adjacent training examples without a seed. The write
    // itself is `repartition(shard)` + `sortWithinPartitions(h, doc_id)` —
    // ONE hash exchange, no global sort — and this query is its driver
    // contract: per-shard doc/token/byte totals plus the first/last doc
    // under the shard order, pinned via min/max over an "h:zero-padded-id"
    // tag (arg-min by string order == the permutation's endpoints; min_by
    // would need struct ordering DuckDB's arg_min lacks). A skewed or
    // non-reproducible shard function shows up here as lopsided counts or
    // a changed endpoint before any shard is written.
    "t28_shard_plan" -> ((s, d) => shardPresent(shardAgg(s, d, lit(true)))),
    // t28's mergeability proof (the q64 pattern applied to the shard
    // write): manifest two disjoint halves of the corpus SEPARATELY, then
    // merge the per-shard summaries with pure column ops — counts add,
    // endpoint tags min/max — and hash-match t28's whole-corpus oracle
    // VERBATIM. This is how a 100 TB shard manifest stays fresh: manifest
    // only the newly landed docs, fold into yesterday's summary, never
    // rescan written shards. The halves split on doc parity (not hash),
    // so each half's endpoints genuinely differ from the full corpus's
    // and the min/max fold is exercised, not vacuous.
    "t28_manifest_merge" -> { (s, d) =>
      val a = shardAgg(s, d, col("doc_id") % 2 === 0)
      val b = shardAgg(s, d, col("doc_id") % 2 =!= 0)
      shardPresent(a.unionAll(b).groupBy(col("shard"))
        .agg(sum(col("n_docs")).cast("bigint").as("n_docs"),
          sum(col("n_tokens")).cast("bigint").as("n_tokens"),
          sum(col("n_bytes")).cast("bigint").as("n_bytes"),
          min(col("first_tag")).as("first_tag"),
          max(col("last_tag")).as("last_tag")))
    },
    // k-anonymity audit — the governance gate that runs before a corpus
    // leaves the building: group by the quasi-identifier tuple
    // (lang, source, 256-char length bucket) and report every group
    // smaller than k = 5 — the re-identification risk set — with its
    // exact corpus share in ppm. NULL quasi-identifier values are their
    // own group (SQL GROUP BY semantics — a null lang is itself an
    // identifying signal). One hash exchange on the tuple; the total is
    // a 1-row broadcast (t22's wmax shape); integer-ppm share (d19's
    // idiom), so the row set is bit-deterministic cross-engine. At
    // 100 TB the violating set is by definition SMALL (groups of < k
    // rows) — the exchange after the partial aggregate carries one row
    // per distinct tuple, never documents.
    "t29_k_anonymity" -> { (s, d) =>
      val K = 5
      val docs = Tables.validDocuments(s, d)
        .select(col("lang"), col("source"),
          expr("CAST(n_chars DIV 256 AS BIGINT)").as("len_bucket"))
      val grouped = docs.groupBy(col("lang"), col("source"), col("len_bucket"))
        .agg(count(lit(1)).as("n_docs"))
      val tot = grouped.agg(sum(col("n_docs")).as("tot"))
      grouped.filter(col("n_docs") < K)
        .crossJoin(broadcast(tot))
        .select(col("lang"), col("source"), col("len_bucket"), col("n_docs"),
          expr("CAST((n_docs * 1000000) DIV tot AS BIGINT)").as("share_ppm"))
        .orderBy(col("lang"), col("source"), col("len_bucket"))
    },
    // Vintage-to-vintage shard-manifest reconciliation — the report an
    // incremental training write makes its REWRITE DECISION from. Two
    // corpus vintages: yesterday = doc_id at or below the key-span
    // midpoint (the cutoff is a 1-row stats reduce folded into a pushed
    // filter LITERAL — q62's adjudicated pattern, so the vintage scan
    // prunes at the parquet footer), today = the whole corpus. Yesterday's
    // manifest folds with the DELTA manifest (t28_manifest_merge's column
    // algebra: counts add, endpoint tags min/max) into today's, and each
    // shard is classified: 'new' (no vintage row), 'grown' (docs landed),
    // 'unchanged' (identical manifest — the shard write is SKIPPED; since
    // a vintage is a subset, equal doc counts imply the identical doc
    // set). endpoints_moved (0/1) flags shards where new docs displaced a
    // permutation ENDPOINT — an interleaving rewrite, not a tail append,
    // even though the count delta alone looks append-only. At 100 TB
    // yesterday's side is the persisted 16-row manifest and only the
    // delta scans; the oracle computes BOTH manifests from whole-table
    // scans and never sees the fold, so the hash certifies the
    // maintenance loop end-to-end.
    "t30_shard_diff" -> { (s, d) =>
      val bounds = Tables.validDocuments(s, d)
        .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi")).head
      val pred = if (bounds.isNullAt(0)) lit(false)
        else col("doc_id") <= lit(bounds.getLong(0) +
          (bounds.getLong(1) - bounds.getLong(0)) / 2)
      val ma = shardAgg(s, d, pred).localCheckpoint(true) // feeds fold AND diff
      val mb = ma.unionAll(shardAgg(s, d, !pred)).groupBy(col("shard"))
        .agg(sum(col("n_docs")).cast("bigint").as("n_docs"),
          sum(col("n_tokens")).cast("bigint").as("n_tokens"),
          sum(col("n_bytes")).cast("bigint").as("n_bytes"),
          min(col("first_tag")).as("first_tag"),
          max(col("last_tag")).as("last_tag"))
      val a = shardPresent(ma).select(col("shard").as("a_shard"),
        col("n_docs").as("a_docs"), col("n_tokens").as("a_tokens"),
        col("n_bytes").as("a_bytes"), col("first_doc").as("a_first"),
        col("last_doc").as("a_last"))
      shardPresent(mb).join(broadcast(a), col("shard") === col("a_shard"), "left")
        .select(col("shard"),
          when(col("a_docs").isNull, "new")
            .when(col("a_docs") === col("n_docs"), "unchanged")
            .otherwise("grown").as("status"),
          (col("n_docs") - coalesce(col("a_docs"), lit(0L))).cast("bigint").as("d_docs"),
          (col("n_tokens") - coalesce(col("a_tokens"), lit(0L))).cast("bigint").as("d_tokens"),
          (col("n_bytes") - coalesce(col("a_bytes"), lit(0L))).cast("bigint").as("d_bytes"),
          when(col("a_docs").isNotNull &&
              (col("a_first") =!= col("first_doc") || col("a_last") =!= col("last_doc")), 1)
            .otherwise(0).cast("int").as("endpoints_moved"))
        .orderBy(col("shard"))
    }
  )

  /** t23's redaction classes, scrub order, and regexes — ONE definition
    * interpolated verbatim into both the Spark query and the DuckDB twin
    * so the two sides cannot drift. Order is most-specific first. */
  private[queries] val PII_ORDER: Seq[(String, String, String)] = Seq(
    ("cc", "\\b\\d{4}[- ]\\d{4}[- ]\\d{4}[- ]\\d{4}\\b", "<CC>"),
    ("ssn", "\\b\\d{3}-\\d{2}-\\d{4}\\b", "<SSN>"),
    ("phone", "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b", "<PHONE>"),
    ("ip", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"))

  /** DuckDB twin of `rolling_min_hash(text, 32)` — the minimal 32-byte
    * rolling-window hash. Expects a CTE `t(doc_id, text, n, hx)` in scope
    * with n = octet_length and hx = hex(encode(text)). Byte extraction goes
    * through the hex dump (r8 audit) so the twin hashes UTF-8 BYTES exactly
    * like the kernel — the previous `ascii(text[i+1])` form read CODEPOINTS
    * and silently diverged on any non-ASCII document. Shared by the t5
    * oracle and Dedup's d14 (winnowing candidate pairs), so the fingerprint
    * definition cannot drift. */
  private[queries] val FP_SQL =
    """CASE WHEN n <= 32 THEN
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |        list_transform(range(n), i -> CAST('0x' || substring(hx, CAST(2*i+1 AS BIGINT), 2) AS BIGINT))),
      |      (a,b) -> (a*31+b) % 1000000007)
      |  ELSE
      |    list_min(list_transform(range(n - 31), i ->
      |      list_reduce(list_prepend(CAST(0 AS BIGINT),
      |          list_transform(range(32), j -> CAST('0x' || substring(hx, CAST(2*(i+j)+1 AS BIGINT), 2) AS BIGINT))),
      |        (a,b) -> (a*31+b) % 1000000007)))
      |  END""".stripMargin

  /** t28's shard-manifest SQL over the valid docs satisfying `where`
    * (`TRUE` = the whole corpus) — parameterized so t30's two vintages
    * reuse the IDENTICAL manifest definition (shardAgg's no-drift rule,
    * applied to the oracle side). Plain nested SELECT (no WITH) so it can
    * be interpolated as a CTE body. */
  private def t28SqlWhere(where: String): String =
    s"""SELECT shard, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
      |  CAST(sum(n_chars) AS BIGINT) AS n_bytes,
      |  CAST(substring(min(tag), 34, 19) AS BIGINT) AS first_doc,
      |  CAST(substring(max(tag), 34, 19) AS BIGINT) AS last_doc
      |FROM (
      |  SELECT CAST(strpos('0123456789abcdef', substring(h, 1, 1)) - 1 AS INT) AS shard,
      |    n_chars, n_tokens,
      |    h || ':' || lpad(CAST(doc_id AS VARCHAR), 19, '0') AS tag
      |  FROM (
      |    SELECT doc_id, n_chars,
      |      CAST(len((CASE WHEN trim(text) = '' THEN [] ELSE string_split_regex(trim(text), '\\s+') END)) AS BIGINT) AS n_tokens,
      |      md5(CAST(doc_id AS VARCHAR)) AS h
      |    FROM ${graft.Tables.validDocsSql} documents WHERE $where) t) g
      |GROUP BY shard""".stripMargin

  /** t28's whole-corpus shard manifest — also the oracle of the
    * split-merge proof (t28_manifest_merge), q64's pattern. */
  private val T28_SQL: String = t28SqlWhere("TRUE") + "\nORDER BY shard"

  private val q = "'"
  private def sqlOcc(m: String): String =
    s"(length(padded) - length(replace(padded, $q$m$q, ''))) // ${m.length}"
  private def sqlScore(ms: Seq[String]): String = ms.map(sqlOcc).mkString(" + ")

  def oracle: Map[String, String] = {
    val scoreCols = MARKERS.toSeq.sortBy(_._1)
      .map { case (l, ms) => s"CAST(${sqlScore(ms)} AS BIGINT) AS score_$l" }
    val langs = MARKERS.keys.toSeq.sorted
    val bestExpr = s"greatest(${langs.map(l => s"score_$l").mkString(", ")})"
    val predChain = langs.reverse.foldLeft("'und'") { (acc, l) =>
      s"CASE WHEN score_$l = best THEN '$l' ELSE $acc END"
    }
    Map(
      "t1_langid" ->
        s"""WITH scored AS (
           |  SELECT doc_id, ${scoreCols.mkString(", ")}
           |  FROM (SELECT doc_id, ' ' || lower(text) || ' ' AS padded FROM ${graft.Tables.validDocsSql} documents) t),
           |best AS (SELECT *, $bestExpr AS best FROM scored)
           |SELECT doc_id, ${langs.map(l => s"score_$l").mkString(", ")},
           |  CASE WHEN best <= 0 THEN 'und' ELSE $predChain END AS pred_lang
           |FROM best ORDER BY doc_id""".stripMargin,
      "t2_quality" ->
        s"""SELECT doc_id, n_chars, n_words, n_stop,
           |  CAST(n_chars AS DOUBLE) / CAST(n_words AS DOUBLE) AS avg_word_len,
           |  CAST(n_stop AS DOUBLE) / CAST(n_words AS DOUBLE) AS stop_ratio,
           |  (CASE WHEN n_words BETWEEN 20 AND 80 THEN 1.0 ELSE 0.0 END)
           |    + CAST(n_stop AS DOUBLE) / CAST(n_words AS DOUBLE) AS quality
           |FROM (
           |  SELECT doc_id,
           |    CAST(length(text) AS BIGINT) AS n_chars,
           |    CAST(len((CASE WHEN trim(lower(text)) = '' THEN [] ELSE string_split_regex(trim(lower(text)), '\\s+') END)) AS BIGINT) AS n_words,
           |    CAST(${sqlScore(Seq(" the ", " a ", " of ", " and "))} AS BIGINT) AS n_stop
           |  FROM (SELECT doc_id, text, ' ' || lower(text) || ' ' AS padded FROM ${graft.Tables.validDocsSql} documents) t) t2
           |ORDER BY doc_id""".stripMargin,
      "t3_tokens" ->
        s"""SELECT doc_id,
          |  CAST(len((CASE WHEN trim(text) = '' THEN [] ELSE string_split_regex(trim(text), '\\s+') END)) AS INT) AS ws_tokens,
          |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) AS re_tokens
          |FROM ${graft.Tables.validDocsSql} documents ORDER BY doc_id""".stripMargin,
      "t4_fingerprint" ->
        s"""SELECT fp, count(*) AS n_docs, min(doc_id) AS keep_id FROM (
          |  SELECT doc_id,
          |    md5(array_to_string(list_sort(list_distinct(
          |      string_split_regex(lower(text), '\\s+'))), ' ')) AS fp
          |  FROM ${graft.Tables.validDocsSql} documents) t
          |GROUP BY fp ORDER BY fp""".stripMargin,
      // whole_hash recomputed byte-wise from the hex dump (see FP_SQL).
      "t5_rolling_hash" ->
        s"""WITH t AS (SELECT doc_id, text, octet_length(encode(text)) AS n,
           |            hex(encode(text)) AS hx FROM ${graft.Tables.validDocsSql} documents)
           |SELECT doc_id, CAST(n AS BIGINT) AS n_bytes,
           |  list_reduce(list_prepend(CAST(0 AS BIGINT),
           |      list_transform(range(n), i -> CAST('0x' || substring(hx, CAST(2*i+1 AS BIGINT), 2) AS BIGINT))),
           |    (a,b) -> (a*31+b) % 1000000007) AS whole_hash,
           |  $FP_SQL AS fp
           |FROM t ORDER BY doc_id""".stripMargin,
      "t6_chunks" ->
        s"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM ${graft.Tables.validDocsSql} documents),
          |c AS (SELECT doc_id, unnest(list_transform(range((len(w)-1)//24 + 1),
          |        i -> {'chunk_idx': i,
          |              'chunk': array_to_string(list_slice(w, CAST(i*24+1 AS BIGINT), CAST(i*24+32 AS BIGINT)), ' ')})) AS u
          |      FROM t)
          |SELECT doc_id, CAST(u.chunk_idx AS INT) AS chunk_idx, u.chunk AS chunk,
          |  CAST(CASE WHEN u.chunk = '' THEN 0 ELSE len(string_split(u.chunk, ' ')) END AS INT) AS n_tokens
          |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
      "t7_pack" ->
        s"""WITH t AS (SELECT doc_id, source,
          |    CAST(len((CASE WHEN trim(text) = '' THEN [] ELSE string_split_regex(trim(text), '\\s+') END)) AS BIGINT) AS n_tokens
          |  FROM ${graft.Tables.validDocsSql} documents)
          |SELECT doc_id, source, n_tokens,
          |  CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
          |  (CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n_tokens) // 256 AS bin
          |FROM t ORDER BY source NULLS FIRST, doc_id""".stripMargin,
      "t8_topk_ngrams" ->
        s"""WITH ${graft.queries.Dedup.SH_CTE}
           |SELECT sh, count(*) AS df FROM (
           |  SELECT doc_id, unnest(shingles) AS sh FROM sh_docs) t
           |GROUP BY sh ORDER BY df DESC, sh LIMIT 20""".stripMargin,
      // The twin shares t8's exact oracle: below the Misra–Gries cap the
      // summary is lossless, so the exact SQL is the ground truth.
      "t8_scale" ->
        s"""WITH ${graft.queries.Dedup.SH_CTE}
           |SELECT sh, count(*) AS df FROM (
           |  SELECT doc_id, unnest(shingles) AS sh FROM sh_docs) t
           |GROUP BY sh ORDER BY df DESC, sh LIMIT 20""".stripMargin,
      "t13_repetition" ->
        s"""WITH tri AS (
          |  SELECT doc_id, len(w) AS n_tokens,
          |    list_transform(list_zip(w[1:-3], w[2:-2], w[3:-1]),
          |                   s -> s[1] || ' ' || s[2] || ' ' || s[3]) AS tris
          |  FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM ${graft.Tables.validDocsSql} documents) t
          |  WHERE len(w) >= 3
          |), cnt AS (
          |  SELECT doc_id, any_value(n_tokens) AS n_tokens, tr, count(*) AS c
          |  FROM (SELECT doc_id, n_tokens, unnest(tris) AS tr FROM tri) u
          |  GROUP BY doc_id, tr
          |), agg AS (
          |  SELECT doc_id, any_value(n_tokens) AS n_tokens,
          |    CAST(sum(c) AS BIGINT) AS n_trigrams,
          |    count(*) AS n_distinct, CAST(max(c) AS BIGINT) AS max_rep
          |  FROM cnt GROUP BY doc_id)
          |SELECT doc_id, n_tokens, n_trigrams, n_distinct, max_rep,
          |  1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_trigrams AS DOUBLE) AS dup_frac,
          |  CAST(max_rep AS DOUBLE) / CAST(n_trigrams AS DOUBLE) AS top_frac
          |FROM agg ORDER BY doc_id""".stripMargin,
      "t14_bigram_novelty" ->
        s"""WITH dw AS (
          |  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM ${graft.Tables.validDocsSql} documents),
          |b AS (
          |  SELECT doc_id, unnest(list_transform(list_zip(w[1:-2], w[2:-1]),
          |                                       s -> s[1] || ' ' || s[2])) AS bg
          |  FROM dw),
          |dfc AS (
          |  SELECT bg, count(*) AS bg_df
          |  FROM (SELECT DISTINCT doc_id, bg FROM b) GROUP BY bg)
          |SELECT doc_id, count(*) AS n_bigrams,
          |  CAST(sum(bg_df) AS BIGINT) AS sum_df,
          |  CAST(CAST(sum(bg_df) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_df
          |FROM b JOIN dfc USING (bg)
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "t9_vocab_idf" ->
        s"""WITH w AS (
          |  SELECT unnest(list_distinct((CASE WHEN trim(lower(text)) = '' THEN [] ELSE string_split_regex(trim(lower(text)), '\\s+') END))) AS word
          |  FROM ${graft.Tables.validDocsSql} documents),
          |dfc AS (SELECT word, count(*) AS df FROM w GROUP BY word),
          |n AS (SELECT count(*) AS n_docs FROM ${graft.Tables.validDocsSql} documents)
          |SELECT word, df, n_docs,
          |  CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE) AS inv_df
          |FROM dfc CROSS JOIN n ORDER BY word""".stripMargin,
      "t10_hash_sample" ->
        s"""SELECT doc_id, lang, source FROM ${graft.Tables.validDocsSql} documents
          |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'
          |ORDER BY doc_id""".stripMargin,
      "t11_stratified_sample" ->
        s"""SELECT doc_id, source, rk FROM (
          |  SELECT doc_id, source, row_number() OVER (
          |    PARTITION BY source
          |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
          |  FROM ${graft.Tables.validDocsSql} documents) t
          |WHERE rk <= 10 ORDER BY source NULLS FIRST, rk""".stripMargin,
      "t12_token_budget_mix" ->
        s"""SELECT doc_id, source, n_tokens, cum_tokens FROM (
          |  SELECT doc_id, source, n_tokens,
          |    CAST(sum(n_tokens) OVER (PARTITION BY source
          |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
          |  FROM (SELECT doc_id, source,
          |          CAST(len((CASE WHEN trim(text) = '' THEN [] ELSE string_split_regex(trim(text), '\\s+') END)) AS BIGINT) AS n_tokens
          |        FROM ${graft.Tables.validDocsSql} documents) a) b
          |WHERE cum_tokens <= 800 ORDER BY source NULLS FIRST, cum_tokens, doc_id""".stripMargin,
      // DuckDB regexp_replace masks only the FIRST match without the 'g'
      // option (Java's replaces all).
      "t15_blocklist_scrub" ->
        s"""SELECT doc_id,
          |  CAST(len(regexp_extract_all(text, '\\b(customer|vector|spark)\\b')) AS BIGINT) AS n_masked,
          |  CAST(len(regexp_extract_all(text, '\\b(customer|vector|spark)\\b')) AS DOUBLE)
          |    / CAST(len((CASE WHEN trim(text) = '' THEN [] ELSE string_split_regex(trim(text), '\\s+') END)) AS DOUBLE) AS masked_frac,
          |  regexp_replace(text, '\\b(customer|vector|spark)\\b', '[MASKED]', 'g') AS scrubbed
          |FROM ${graft.Tables.validDocsSql} documents ORDER BY doc_id""".stripMargin,
      "t16_lexical_diversity" ->
        s"""WITH wc AS (
          |  SELECT doc_id, w, count(*) AS c
          |  FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS w
          |        FROM ${graft.Tables.validDocsSql} documents) t
          |  GROUP BY doc_id, w)
          |SELECT doc_id,
          |  CAST(sum(c) AS BIGINT) AS n_words,
          |  count(*) AS n_distinct,
          |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
          |  CAST(count(*) AS DOUBLE) / CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) AS ttr,
          |  CAST(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
          |    / CAST(count(*) AS DOUBLE) AS hapax_frac
          |FROM wc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "t17_quality_gate" ->
        s"""WITH sig AS (
           |  SELECT doc_id,
           |    CAST(len((CASE WHEN trim(lower(text)) = '' THEN [] ELSE string_split_regex(trim(lower(text)), '\\s+') END)) AS BIGINT) AS n_words,
           |    CAST(len(list_distinct((CASE WHEN trim(lower(text)) = '' THEN [] ELSE string_split_regex(trim(lower(text)), '\\s+') END))) AS BIGINT) AS n_distinct,
           |    CAST(${sqlScore(Seq(" the ", " a ", " of ", " and "))} AS BIGINT) AS n_stop
           |  FROM (SELECT doc_id, text, ' ' || lower(text) || ' ' AS padded FROM ${graft.Tables.validDocsSql} documents) t),
           |r AS (
           |  SELECT doc_id, n_words,
           |    CAST(n_distinct AS DOUBLE) / CAST(n_words AS DOUBLE) AS ttr,
           |    CAST(n_stop AS DOUBLE) / CAST(n_words AS DOUBLE) AS stop_ratio
           |  FROM sig)
           |SELECT doc_id, n_words, ttr, stop_ratio,
           |  n_words BETWEEN 20 AND 80 AS len_ok,
           |  ttr >= 0.7 AS ttr_ok,
           |  stop_ratio > 0.0 AS stop_ok,
           |  (n_words BETWEEN 20 AND 80) AND ttr >= 0.7 AND stop_ratio > 0.0 AS keep
           |FROM r ORDER BY doc_id""".stripMargin,
      "p1_e2e_pipeline" ->
        s"""WITH gated AS (
          |  SELECT doc_id, source, text
          |  FROM ${graft.Tables.validDocsSql} documents
          |  WHERE CAST(len((CASE WHEN trim(lower(text)) = '' THEN [] ELSE string_split_regex(trim(lower(text)), '\\s+') END)) AS BIGINT)
          |        BETWEEN 20 AND 80),
          |deduped AS (
          |  SELECT doc_id, source, (CASE WHEN trim(text) = '' THEN [] ELSE string_split_regex(trim(text), '\\s+') END) AS wd FROM (
          |    SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
          |    FROM gated) t
          |  WHERE rn = 1),
          |chunks AS (
          |  SELECT doc_id, source,
          |    unnest(list_transform(range((len(wd)-1)//24 + 1),
          |      i -> len(list_slice(wd, CAST(i*24+1 AS BIGINT), CAST(i*24+32 AS BIGINT))))) AS chunk_tokens
          |  FROM deduped)
          |SELECT source, count(DISTINCT doc_id) AS n_docs, count(*) AS n_chunks,
          |  CAST(sum(chunk_tokens) AS BIGINT) AS n_tokens
          |FROM chunks GROUP BY 1 ORDER BY 1 NULLS FIRST""".stripMargin,
      "t18_pmi_cooccur" ->
        s"""WITH dw AS (
          |  SELECT doc_id,
          |    list_distinct((CASE WHEN trim(lower(text)) = '' THEN [] ELSE string_split_regex(trim(lower(text)), '\\s+') END)) AS ws
          |  FROM ${graft.Tables.validDocsSql} documents),
          |e AS (SELECT doc_id, unnest(ws) AS word FROM dw),
          |cxy AS (
          |  SELECT a.word AS w1, b.word AS w2, count(*) AS n_xy
          |  FROM e a JOIN e b ON a.doc_id = b.doc_id AND a.word < b.word
          |  GROUP BY 1, 2),
          |dfc AS (SELECT word, count(*) AS df FROM e GROUP BY 1),
          |n AS (SELECT count(*) AS n_docs FROM ${graft.Tables.validDocsSql} documents)
          |SELECT w1, w2, n_xy, a.df AS df_a, b.df AS df_b,
          |  CAST(n_xy * n_docs AS DOUBLE) / CAST(a.df * b.df AS DOUBLE) AS pmi_ratio
          |FROM cxy JOIN dfc a ON cxy.w1 = a.word JOIN dfc b ON cxy.w2 = b.word
          |CROSS JOIN n
          |ORDER BY w1, w2""".stripMargin,
      "t19_tfidf_terms" ->
        s"""WITH tf AS (
          |  SELECT doc_id, w AS word, count(*) AS tf FROM (
          |    SELECT doc_id, unnest((CASE WHEN trim(lower(text)) = '' THEN [] ELSE string_split_regex(trim(lower(text)), '\\s+') END)) AS w
          |    FROM ${graft.Tables.validDocsSql} documents) t
          |  GROUP BY 1, 2),
          |dfc AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
          |n AS (SELECT count(*) AS n_docs FROM ${graft.Tables.validDocsSql} documents),
          |scored AS (
          |  SELECT doc_id, word, tf, df,
          |    CAST(tf * n_docs AS DOUBLE) / CAST(df AS DOUBLE) AS score
          |  FROM tf JOIN dfc USING (word) CROSS JOIN n),
          |ranked AS (
          |  SELECT *, row_number() OVER (PARTITION BY doc_id
          |    ORDER BY score DESC, word) AS rk
          |  FROM scored)
          |SELECT doc_id, rk, word, tf, df, score
          |FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
      "t21_doc_validity" ->
        """SELECT count(*) AS n_total,
          |  CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_doc_id,
          |  CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_text,
          |  CAST(sum(CASE WHEN doc_id IS NOT NULL AND text IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
          |  CAST(sum(CASE WHEN text = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_text,
          |  CAST(sum(CASE WHEN text IS NOT NULL AND text <> '' AND trim(text) = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_ws_only,
          |  CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_lang,
          |  CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_source
          |FROM documents""".stripMargin,
      "t20_source_composition" ->
        s"""WITH c AS (
          |  SELECT source, lang, count(*) AS n_docs,
          |    CAST(sum(len((CASE WHEN trim(text) = '' THEN [] ELSE string_split_regex(trim(text), '\\s+') END))) AS BIGINT) AS n_tokens
          |  FROM ${graft.Tables.validDocsSql} documents GROUP BY 1, 2)
          |SELECT source, lang, n_docs, n_tokens,
          |  CAST(sum(n_docs) OVER (PARTITION BY source) AS BIGINT) AS src_docs,
          |  CAST(n_docs AS DOUBLE)
          |    / CAST(CAST(sum(n_docs) OVER (PARTITION BY source) AS BIGINT) AS DOUBLE) AS doc_share
          |FROM c ORDER BY source NULLS FIRST, lang NULLS FIRST""".stripMargin,
      // t22: the same exact-BIGINT admit test; the md5-derived h32 parses
      // via DuckDB's hex-literal cast ('0x' || 8 hex chars → BIGINT).
      "t22_weighted_sample" ->
        s"""WITH d AS (
          |  SELECT doc_id, source,
          |    CAST(len((CASE WHEN trim(text) = '' THEN [] ELSE string_split_regex(trim(text), '\\s+') END)) AS BIGINT) AS n_tokens
          |  FROM ${graft.Tables.validDocsSql} documents),
          |w AS (SELECT CASE WHEN max(n_tokens) > 536870912
          |                  THEN error('t22_weighted_sample: wmax exceeds the exact-integer admit-test domain (2^29)')
          |                  ELSE max(n_tokens) END AS wmax FROM d)
          |SELECT doc_id, source, n_tokens
          |FROM d CROSS JOIN w
          |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) * wmax * 4
          |      < n_tokens * 4294967296
          |ORDER BY doc_id""".stripMargin,
      "t23_pii_scrub" -> t23Sql,
      // t24: (N·10⁴) // tfw is the same integer floor-division Spark's
      // `div` computes; the surprisal sum stays DECIMAL end-to-end and
      // reaches DOUBLE via VARCHAR (q1's correctly-rounded-cast trick).
      "t24_unigram_surprisal" ->
        s"""WITH tf AS (
          |  SELECT doc_id, w AS word, count(*) AS c FROM (
          |    SELECT doc_id, unnest((CASE WHEN trim(lower(text)) = '' THEN [] ELSE string_split_regex(trim(lower(text)), '\\s+') END)) AS w
          |    FROM ${graft.Tables.validDocsSql} documents) t
          |  GROUP BY 1, 2),
          |wt AS (SELECT word, CAST(sum(c) AS BIGINT) AS tfw FROM tf GROUP BY 1),
          |n AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM tf),
          |scored AS (
          |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
          |    CAST(sum(CASE WHEN tfw = 1 THEN c ELSE 0 END) AS BIGINT) AS n_hapax,
          |    sum(CAST(c AS DECIMAL(19,0)) * CAST((n_total * 10000) // tfw AS DECIMAL(19,0))) AS sur
          |  FROM tf JOIN wt USING (word) CROSS JOIN n
          |  GROUP BY 1)
          |SELECT d.doc_id,
          |  coalesce(n_tokens, 0) AS n_tokens,
          |  coalesce(n_hapax, 0) AS n_hapax,
          |  CAST(CAST(sur AS VARCHAR) AS DOUBLE)
          |    / CAST(n_tokens AS DOUBLE) / 1e4 AS mean_inv_p,
          |  CAST(n_hapax AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS hapax_ratio
          |FROM (SELECT doc_id FROM ${graft.Tables.validDocsSql} documents) d
          |LEFT JOIN scored USING (doc_id)
          |ORDER BY doc_id""".stripMargin,
      // Mirrors t26: the same lowered whitespace tokenization, the same
      // (freq DESC, word) head order, exact BIGINT counts; sources whose
      // docs are all blank contribute no word rows and so no profile row
      // on either engine.
      "t26_vocab_zipf" ->
        s"""WITH wf AS (
          |  SELECT source, w AS word, count(*) AS f FROM (
          |    SELECT source, unnest((CASE WHEN trim(lower(text)) = '' THEN [] ELSE string_split_regex(trim(lower(text)), '\\s+') END)) AS w
          |    FROM ${graft.Tables.validDocsSql} documents) t
          |  GROUP BY 1, 2),
          |r AS (
          |  SELECT *, row_number() OVER (PARTITION BY source ORDER BY f DESC, word) AS rk
          |  FROM wf)
          |SELECT source,
          |  CAST(sum(f) AS BIGINT) AS n_tokens,
          |  count(*) AS vocab,
          |  CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
          |  CAST(sum(CASE WHEN rk <= 100 THEN f ELSE 0 END) AS BIGINT) AS top100_tokens,
          |  CAST(count(*) AS DOUBLE) / CAST(sum(f) AS DOUBLE) AS ttr,
          |  CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS hapax_ratio,
          |  CAST(sum(CASE WHEN rk <= 100 THEN f ELSE 0 END) AS DOUBLE) / CAST(sum(f) AS DOUBLE) AS top100_share
          |FROM r GROUP BY 1 ORDER BY source NULLS FIRST""".stripMargin,
      // Mirrors t25 rule for rule: same '\r' strip, same trim-then-split
      // word count with the blank-line guard, same terminal-punctuation
      // regex, same untrimmed brace checks, and md5 over the kept lines
      // re-joined with '\n' (md5(VARCHAR) here == Spark's md5 of the
      // UTF-8 bytes).
      "t25_line_filter" ->
        s"""WITH l AS (
          |  SELECT doc_id, lower(text) AS lt,
          |    string_split(replace(text, chr(13), ''), chr(10)) AS lines,
          |    list_filter(string_split(replace(text, chr(13), ''), chr(10)), x ->
          |      len(CASE WHEN trim(x) = '' THEN [] ELSE string_split_regex(trim(x), '\\s+') END) >= 5
          |      AND regexp_matches(trim(x), '[.!?"'']$$')
          |      AND NOT contains(lower(trim(x)), 'javascript')
          |      AND NOT contains(x, '{') AND NOT contains(x, '}')) AS kept
          |  FROM ${graft.Tables.validDocsSql} documents)
          |SELECT doc_id,
          |  CAST(len(lines) AS BIGINT) AS n_lines,
          |  CAST(len(kept) AS BIGINT) AS n_kept,
          |  coalesce(CAST(list_sum(list_transform(kept, x -> length(x))) AS BIGINT), 0) AS kept_chars,
          |  CAST(len(kept) AS DOUBLE) / CAST(len(lines) AS DOUBLE) AS keep_ratio,
          |  contains(lt, 'lorem ipsum') AS has_lorem,
          |  md5(coalesce(array_to_string(kept, chr(10)), '')) AS clean_md5
          |FROM l ORDER BY doc_id""".stripMargin,
      // Mirrors t27: same lowered whitespace tokenization, same ASCII
      // alphabet scope, pair expansion via list_transform over the same
      // 1-based 2-char substring windows, same (count DESC, pair) head.
      "t27_bpe_pairs" ->
        s"""WITH w AS (
          |  SELECT w AS word, count(*) AS c FROM (
          |    SELECT unnest((CASE WHEN trim(lower(text)) = '' THEN [] ELSE string_split_regex(trim(lower(text)), '\\s+') END)) AS w
          |    FROM ${graft.Tables.validDocsSql} documents) t
          |  WHERE regexp_matches(w, '^[a-z]+$$') AND length(w) >= 2
          |  GROUP BY 1),
          |p AS (
          |  SELECT unnest(list_transform(range(1, length(word)),
          |    i -> substring(word, CAST(i AS INTEGER), 2))) AS pair, c
          |  FROM w),
          |a AS (SELECT pair, CAST(sum(c) AS BIGINT) AS n_occ FROM p GROUP BY 1)
          |SELECT CAST(row_number() OVER (ORDER BY n_occ DESC, pair) AS BIGINT) AS rnk,
          |  pair, n_occ
          |FROM a ORDER BY n_occ DESC, pair LIMIT 32""".stripMargin,
      "t28_shard_plan" -> T28_SQL,
      // Merge == full by construction: counts add and min/max of tag
      // endpoints compose, so the split-merge query rides the SAME
      // whole-corpus oracle — the mergeability proof IS the hash match.
      "t28_manifest_merge" -> T28_SQL,
      // Integer ppm via HUGEINT floor division (q68's recipe); nullable
      // ASC sort keys pinned NULLS FIRST; a null quasi-identifier is its
      // own group on both engines.
      "t29_k_anonymity" ->
        s"""WITH g AS (
          |  SELECT lang, source, CAST(n_chars // 256 AS BIGINT) AS len_bucket,
          |    CAST(count(*) AS BIGINT) AS n_docs
          |  FROM ${graft.Tables.validDocsSql} documents
          |  GROUP BY 1, 2, 3),
          |t AS (SELECT sum(CAST(n_docs AS HUGEINT)) AS tot FROM g)
          |SELECT lang, source, len_bucket, n_docs,
          |  CAST((CAST(n_docs AS HUGEINT) * 1000000) // tot AS BIGINT) AS share_ppm
          |FROM g, t WHERE n_docs < 5
          |ORDER BY lang NULLS FIRST, source NULLS FIRST, len_bucket NULLS FIRST""".stripMargin,
      // The reconciliation contract: the oracle manifests BOTH vintages
      // from whole-table scans (t28's manifest SQL verbatim, twice) and
      // never sees the engine's fold of yesterday's manifest with the
      // delta — hash equality certifies the incremental maintenance loop.
      "t30_shard_diff" ->
        s"""WITH b AS (
          |  SELECT min(doc_id) + ((max(doc_id) - min(doc_id)) // 2) AS cut
          |  FROM ${graft.Tables.validDocsSql} documents),
          |ma AS (${t28SqlWhere("doc_id <= (SELECT cut FROM b)")}),
          |mb AS (${t28SqlWhere("TRUE")})
          |SELECT mb.shard,
          |  CASE WHEN ma.shard IS NULL THEN 'new'
          |       WHEN ma.n_docs = mb.n_docs THEN 'unchanged'
          |       ELSE 'grown' END AS status,
          |  CAST(mb.n_docs - COALESCE(ma.n_docs, 0) AS BIGINT) AS d_docs,
          |  CAST(mb.n_tokens - COALESCE(ma.n_tokens, 0) AS BIGINT) AS d_tokens,
          |  CAST(mb.n_bytes - COALESCE(ma.n_bytes, 0) AS BIGINT) AS d_bytes,
          |  CAST(CASE WHEN ma.shard IS NOT NULL AND
          |      (ma.first_doc <> mb.first_doc OR ma.last_doc <> mb.last_doc)
          |    THEN 1 ELSE 0 END AS INT) AS endpoints_moved
          |FROM mb LEFT JOIN ma ON ma.shard = mb.shard
          |ORDER BY mb.shard""".stripMargin
    )
  }

  /** t23's DuckDB twin, generated from [[PII_ORDER]] so the patterns, the
    * scrub order, and the count-then-replace staging are byte-identical to
    * the Spark side. Each CTE stage counts category i on the text state
    * t_i, then rewrites to t_{i+1}; DuckDB's regexp_replace needs the 'g'
    * flag to match Spark's global-replace semantics. */
  private def t23Sql: String = {
    val s0 =
      s"""s0 AS (
         |  SELECT doc_id, text || ' reach me at user' || CAST(doc_id AS VARCHAR)
         |    || '@example.com or 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
         |    || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |    || ' host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.'
         |    || CAST((doc_id // 256) % 256 AS VARCHAR)
         |    || '.1 ssn 123-45-' || lpad(CAST(((doc_id % 10000) * 3) % 10000 AS VARCHAR), 4, '0')
         |    || ' card 4111-1111-1111-' || lpad(CAST(((doc_id % 10000) * 7) % 10000 AS VARCHAR), 4, '0') AS t0
         |  FROM ${graft.Tables.validDocsSql} documents)""".stripMargin
    val stages = PII_ORDER.zipWithIndex.map { case ((cat, re, tok), i) =>
      val prev = PII_ORDER.take(i).map { case (c, _, _) => s"n_$c, " }.mkString
      s"""s${i + 1} AS (SELECT doc_id, $prev
         |  CAST(len(regexp_extract_all(t$i, '$re')) AS BIGINT) AS n_$cat,
         |  regexp_replace(t$i, '$re', '$tok', 'g') AS t${i + 1} FROM s$i)""".stripMargin
    }
    val n = PII_ORDER.size
    val counts = PII_ORDER.map { case (c, _, _) => s"n_$c" }.mkString(", ")
    // NO outer stripMargin: the fragments are already margin-stripped, and
    // a second pass would eat one pipe of every `||` continuation line.
    s"WITH $s0,\n" + stages.mkString(",\n") +
      s"\nSELECT doc_id, $counts,\n" +
      s"  CAST(length(t$n) AS BIGINT) AS scrub_len, md5(t$n) AS scrub_md5\n" +
      s"FROM s$n ORDER BY doc_id"
  }
}
