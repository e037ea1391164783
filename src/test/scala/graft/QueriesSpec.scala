package graft

/** Every declared query must run at sf0.001 and the oracle keys must be a
  * subset of the query keys (driver contract). */
class QueriesSpec extends SparkTestBase {

  test("oracleSql keys are a subset of queries keys") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle entries without a query: $missing")
  }

  // A conf key the README tells operators to set must be one the code
  // reads; otherwise the README points at a setting nothing honours.
  // Tokens whose second segment is a package or an object name are code
  // references (graft.core.SinkConfig, graft.Listen.replay), not keys.
  test("every graft conf key README.md names is read under src/main/scala") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val main = Paths.get("src/main/scala")
    val sources = scala.util.Using.resource(Files.walk(main))(_.iterator.asScala
      .filter(_.toString.endsWith(".scala")).map(Files.readString).mkString("\n"))
    val packages = scala.util.Using.resource(Files.list(main.resolve("graft")))(
      _.iterator.asScala.filter(Files.isDirectory(_)).map(_.getFileName.toString).toSet)
    val named = """(?:spark\.)?graft\.(\w+)(?:\.\w+)+""".r
      .findAllMatchIn(Files.readString(Paths.get("README.md")))
      .filterNot(m => packages(m.group(1)) || m.group(1).head.isUpper)
      .map(_.matched).toSet
    assert(named.nonEmpty)
    val unread = named.filterNot(k => sources.contains("\"" + k + "\""))
    assert(unread.isEmpty, s"README names conf keys that no code reads: $unread")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q64 merged profile equals q63's one-pass profile exactly") {
    // The mergeability contract, asserted directly: splitting the corpus,
    // profiling the halves and merging the summaries must reproduce the
    // single-pass profile CELL-FOR-CELL (counts add, ranges compose, KMV
    // unions stay exact below k).
    val one = SparkEntry.queries("q63_table_stats")(spark, sf).collect()
    val merged = SparkEntry.queries("q64_stats_merge")(spark, sf).collect()
    assert(one.nonEmpty)
    assert(one.toSeq == merged.toSeq)
  }

  test("t22 weighted sample: deterministic admit set, admits long docs at a higher rate") {
    import org.apache.spark.sql.functions._
    def admitSet() = SparkEntry.queries("t22_weighted_sample")(spark, sf)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val admitted = admitSet()
    assert(admitted.nonEmpty)
    // The admit test is pure integer arithmetic on md5 bits: a re-run (any
    // partitioning, any engine) must admit the IDENTICAL set.
    assert(admitted == admitSet())
    // Weighting: admit probability ∝ n_tokens, so the admitted docs' mean
    // token count must exceed the corpus mean (size-biased sampling).
    val all = graft.Tables.validDocuments(spark, sf)
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("bigint").as("n_tokens"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val corpusMean = all.map(_._2).sum.toDouble / all.length
    val admittedMean =
      all.filter(t => admitted(t._1)).map(_._2).sum.toDouble / admitted.size
    assert(admittedMean > corpusMean,
      s"size-biased sample mean $admittedMean must exceed corpus mean $corpusMean")
  }

  // The frame-free scale twin must be row-for-row identical to the frame
  // query — same rows, same order (both end in ORDER BY o_orderkey), same
  // doubles bit-for-bit (the decimal sums are order-free).
  test("q55_scale equals q55_num_range_frame exactly") {
    val frame = SparkEntry.queries("q55_num_range_frame")(spark, sf).collect()
    val twin = SparkEntry.queries("q55_scale")(spark, sf).collect()
    assert(twin.length == frame.length, s"${twin.length} vs ${frame.length} rows")
    twin.zip(frame).foreach { case (t, f) => assert(t == f, s"twin $t != frame $f") }
  }

  // The rank-lookup percentile twin must reproduce the buffered-percentile
  // doubles bit-for-bit (same interpolation arithmetic, same inputs).
  test("q7_scale equals q7_percentiles exactly") {
    val buffered = SparkEntry.queries("q7_percentiles")(spark, sf).collect()
    val twin = SparkEntry.queries("q7_scale")(spark, sf).collect()
    assert(twin.length == buffered.length)
    twin.zip(buffered).foreach { case (t, f) => assert(t == f, s"twin $t != buffered $f") }
  }

  // Negative value domain (r8): q7_scale's coarse bucket uses `v div 65536`,
  // which truncates toward zero — bucket 0 is double-width around the
  // origin, but rank correctness needs only that the bucket function be
  // MONOTONE with equal values sharing a bucket, both of which truncation
  // preserves. Pin it on a corpus straddling zero so the invariant is
  // proven, not assumed.
  test("q7_scale equals q7_percentiles on a negative-valued domain") {
    val dir = java.nio.file.Files.createTempDirectory("q7neg").toString
    import spark.implicits._
    val rows = (-70000L to 70000L by 1357L).zipWithIndex.map { case (v, i) =>
      (if (i % 3 == 0) "A" else if (i % 3 == 1) "N" else "R", v, (i % 7).toLong - 3L)
    }
    rows.toDF("l_returnflag", "l_partkey", "l_linenumber")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val buffered = SparkEntry.queries("q7_percentiles")(spark, dir).collect()
    val twin = SparkEntry.queries("q7_scale")(spark, dir).collect()
    assert(twin.length == buffered.length && twin.nonEmpty)
    twin.zip(buffered).foreach { case (t, f) => assert(t == f, s"neg: $t != $f") }
  }

  // Null semantics (r8): the builtin `percentile` IGNORES null values,
  // emits a null-percentile row for a group whose values are ALL null,
  // and treats a null group key as a group. The twin must do all three —
  // the failure modes are silent (nulls counted into n skew every rank
  // probe; null-keyed groups vanish through plain equi-joins).
  test("q7_scale equals q7_percentiles on a null-laden corpus") {
    val dir = java.nio.file.Files.createTempDirectory("q7null").toString
    import spark.implicits._
    val rows: Seq[(Option[String], Option[Long], Option[Long])] =
      (1 to 60).map { i =>
        val flag = i % 4 match {
          case 0 => None          // null group key
          case 1 => Some("A")
          case 2 => Some("N")
          case _ => Some("R")
        }
        val pk = if (flag.contains("R") || i % 5 == 0) None // "R": ALL null
                 else Some((i * 131 % 977).toLong)
        val ln = if (i % 7 == 0) None else Some((i % 7).toLong)
        (flag, pk, ln)
      }
    rows.toDF("l_returnflag", "l_partkey", "l_linenumber")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val buffered = SparkEntry.queries("q7_percentiles")(spark, dir).collect()
    val twin = SparkEntry.queries("q7_scale")(spark, dir).collect()
    // All four groups must be present, "R" with null p50/p90.
    assert(buffered.length == 4 && twin.length == 4)
    assert(buffered.find(r => r.getString(0) == "R").get.isNullAt(1))
    twin.zip(buffered).foreach { case (t, f) => assert(t == f, s"null: $t != $f") }
  }

  // Property pin across band widths: exercises the default width's
  // divisor snapping ($0.37 -> width 37 cents, K=1: zero full buckets,
  // everything rides the edge join) through mid ($2.50) and wide ($250,
  // K=25) bands. The twin must match the frame at every width.
  for (band <- Seq("0.37", "2.50", "250.00"))
    test(s"q55_scale equals the frame at band $$${band}") {
      spark.conf.set("spark.graft.q55.band", band)
      try {
        val frame = SparkEntry.queries("q55_num_range_frame")(spark, sf).collect()
        val twin = SparkEntry.queries("q55_scale")(spark, sf).collect()
        assert(twin.length == frame.length && twin.nonEmpty)
        twin.zip(frame).foreach { case (t, f) => assert(t == f, s"band $band: $t != $f") }
      } finally spark.conf.unset("spark.graft.q55.band")
    }

  // The distributed-rank twin must reproduce e22's full-fact window ranks
  // exactly — same Σd², same single-division rho doubles bit-for-bit.
  test("e22_scale equals e22_spearman exactly") {
    val window = SparkEntry.queries("e22_spearman")(spark, sf).collect()
    val twin = SparkEntry.queries("e22_scale")(spark, sf).collect()
    assert(twin.length == window.length && twin.nonEmpty)
    twin.zip(window).foreach { case (t, f) => assert(t == f, s"twin $t != window $f") }
  }

  // Bucket widths must not change the answer (rank two-level decomposition
  // is exact for any positive width): pin a coarse and a fine setting.
  for ((vw, th) <- Seq(("0.25", "6"), ("50.0", "720")))
    test(s"e22_scale equals e22_spearman at vwidth=$vw thours=$th") {
      spark.conf.set("spark.graft.e22.vwidth", vw)
      spark.conf.set("spark.graft.e22.thours", th)
      try {
        val window = SparkEntry.queries("e22_spearman")(spark, sf).collect()
        val twin = SparkEntry.queries("e22_scale")(spark, sf).collect()
        assert(twin.length == window.length && twin.nonEmpty)
        twin.zip(window).foreach { case (t, f) => assert(t == f, s"($vw,$th): $t != $f") }
      } finally {
        spark.conf.unset("spark.graft.e22.vwidth")
        spark.conf.unset("spark.graft.e22.thours")
      }
    }

  // Null keys (value, ts, even event_type itself — parquet columns are
  // nullable in principle): e22's windows RANK null rows (Spark sorts
  // nulls first); the twin's bucket joins must be null-safe or those rows
  // silently vanish from Σd² and n. Pin equality on a null-laden corpus.
  test("e22_scale equals e22_spearman on a corpus with null/NaN/Inf value, null ts/type") {
    val dir = java.nio.file.Files.createTempDirectory("e22null").toString
    import spark.implicits._
    val base = 1600000000000000000L // 2020-09-13, nanos
    val rows: Seq[(Long, Option[String], Option[Long], Option[Double])] =
      (1L to 40L).map { i =>
        val ty = if (i % 7 == 0) None else Some(if (i % 2 == 0) "click" else "view")
        val ts = if (i % 5 == 0) None else Some(base + i * 3600L * 1000000000L)
        val v = i % 13 match {
          case 0 => Some(Double.NaN) // window ranks NaN LAST (after +Inf)
          case 1 => Some(Double.PositiveInfinity)
          case 2 => Some(Double.NegativeInfinity)
          case _ => if (i % 4 == 0) None else Some((i % 11).toDouble * 0.37)
        }
        (i, ty, ts, v)
      }
    rows.toDF("event_id", "event_type", "ts", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val window = SparkEntry.queries("e22_spearman")(spark, dir).collect()
    val twin = SparkEntry.queries("e22_scale")(spark, dir).collect()
    assert(twin.length == window.length && twin.nonEmpty)
    // Null rows must be IN the counts: 40 rows total across groups.
    assert(window.map(_.getLong(1)).sum == 40L)
    twin.zip(window).foreach { case (t, f) => assert(t == f, s"null corpus: $t != $f") }
  }

  // The broadcast-prefix densify guard (q55_scale's idiom): a sliver
  // vwidth must fail fast with an actionable message, not broadcast a
  // near-fact-sized prefix table.
  test("e22_scale refuses an over-cap prefix table with an actionable error") {
    spark.conf.set("spark.graft.e22.maxPrefixRows", "10")
    try {
      val e = intercept[Exception](
        SparkEntry.queries("e22_scale")(spark, sf).collect())
      def msgs(t: Throwable): List[String] =
        if (t == null) Nil else Option(t.getMessage).toList ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("maxPrefixRows")), e.toString)
    } finally spark.conf.unset("spark.graft.e22.maxPrefixRows")
  }

  // Adversarial arithmetic pin (r8, ADVICE item): a build row sitting at
  // exactly the cent position of p − band, where nearest(p − band) is
  // strictly greater than b's double — the frame (and the DuckDB oracle)
  // EXCLUDE b=$0.01 from p=$100.01's $100 band because 100.01 − 100.0
  // rounds to 0.010000000000005116 > 0.01, while integer-cents membership
  // (1 ≥ 10001 − 10000) would include it. The shipped sf corpora happen to
  // contain no such pair; this pin is what keeps the twin's edge join on
  // the frame's own double arithmetic for denser, independently drawn data.
  test("q55_scale matches the frame on a boundary-adversarial corpus") {
    val dir = java.nio.file.Files.createTempDirectory("q55adv").toString
    import spark.implicits._
    Seq(0.01, 0.02, 30.33, 50.0, 99.99, 100.0, 100.01, 100.02, 150.01, 200.01)
      .zipWithIndex.map { case (p, i) => (i.toLong, "O", p) }
      .toDF("o_orderkey", "o_orderstatus", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val frame = SparkEntry.queries("q55_num_range_frame")(spark, dir).collect()
    val twin = SparkEntry.queries("q55_scale")(spark, dir).collect()
    // Sanity that the corpus really exercises the divergence: the frame's
    // band for p=$100.01 holds 6 rows (0.02, 30.33, 50.0, 99.99, 100.0,
    // 100.01) — NOT the cent-grid 7th row at $0.01.
    val probe = frame.find(_.getDouble(2) == 100.01).get
    assert(probe.getLong(3) == 6L, s"frame n_band for $$100.01: $probe")
    assert(twin.length == frame.length)
    twin.zip(frame).foreach { case (t, f) => assert(t == f, s"adv: $t != $f") }
  }

  // Negative prices: `div` truncates toward zero, so naive cents-div
  // bucketing would give bucket 0 a double width spanning the origin and
  // break both the interior-margin argument and b0 = bp − K. The floor-
  // division bucketing must keep the twin exact on a corpus straddling 0
  // (credit notes, adjustments — not in TPC-H, legal in the operator).
  test("q55_scale matches the frame on a corpus with negative prices") {
    val dir = java.nio.file.Files.createTempDirectory("q55neg").toString
    import spark.implicits._
    Seq(-250.01, -99.99, -50.0, -0.01, 0.0, 0.01, 25.5, 49.99, 50.0, 99.99, 100.01, 150.0)
      .zipWithIndex.map { case (p, i) => (i.toLong, "O", p) }
      .toDF("o_orderkey", "o_orderstatus", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val frame = SparkEntry.queries("q55_num_range_frame")(spark, dir).collect()
    val twin = SparkEntry.queries("q55_scale")(spark, dir).collect()
    assert(twin.length == frame.length && twin.nonEmpty)
    twin.zip(frame).foreach { case (t, f) => assert(t == f, s"neg: $t != $f") }
  }

  // Null prices and a null status (r8): the frame emits EVERY row — a
  // null-price row's RANGE frame is its null peer group (n_band = #null
  // prices in the status, band_total = null) and a null status is a
  // partition like any other. The twin must match: null prices must stay
  // out of the histogram (a null bucket would sort first in the running
  // prefix and leak into every non-null span) and ride a count side path;
  // status joins must be null-safe.
  test("q55_scale matches the frame on a corpus with null and NaN prices and null status") {
    val dir = java.nio.file.Files.createTempDirectory("q55null").toString
    import spark.implicits._
    val rows: Seq[(Long, Option[String], Option[Double])] =
      (1 to 30).map { i =>
        val st = if (i % 9 == 0) None else Some(if (i % 2 == 0) "O" else "F")
        val p = if (i % 13 == 0) Some(Double.NaN) // NaN peer group, sorts last
                else if (i % 4 == 0) None
                else Some((i * 37 % 251) + i / 7 * 0.01)
        (i.toLong, st, p)
      }
    rows.toDF("o_orderkey", "o_orderstatus", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val frame = SparkEntry.queries("q55_num_range_frame")(spark, dir).collect()
    val twin = SparkEntry.queries("q55_scale")(spark, dir).collect()
    assert(frame.length == 30 && twin.length == 30)
    // Corpus sanity: at least one null-price row inside a non-null status
    // and at least one row in the null status actually exercised.
    assert(frame.exists(r => r.isNullAt(2)) && frame.exists(r => r.isNullAt(1)))
    twin.zip(frame).foreach { case (t, f) => assert(t == f, s"null: $t != $f") }
  }

  test("q55_scale rejects a sub-cent or fractional-cent band") {
    spark.conf.set("spark.graft.q55.band", "0.001")
    try intercept[IllegalArgumentException](SparkEntry.queries("q55_scale")(spark, sf))
    finally spark.conf.unset("spark.graft.q55.band")
  }

  // A prime-cent band ($99.73 = 9973 cents) has no divisor near $10; the r7
  // snapping walked down to 1-cent buckets — a domain-sized prefix table.
  // The r8 snap picks the band itself (K=1: all pair work on the edge join,
  // memory-bounded) and must still match the frame exactly.
  test("q55_scale handles a prime-cent band via K=1, matching the frame") {
    spark.conf.set("spark.graft.q55.band", "99.73")
    try {
      val frame = SparkEntry.queries("q55_num_range_frame")(spark, sf).collect()
      val twin = SparkEntry.queries("q55_scale")(spark, sf).collect()
      assert(twin.length == frame.length && twin.nonEmpty)
      twin.zip(frame).foreach { case (t, f) => assert(t == f, s"prime band: $t != $f") }
    } finally spark.conf.unset("spark.graft.q55.band")
  }

  // The densify guard must fail fast with an actionable message rather than
  // broadcast an over-cap prefix table.
  test("q55_scale refuses an over-cap prefix table with an actionable error") {
    spark.conf.set("spark.graft.q55.maxPrefixRows", "10")
    try {
      val e = intercept[Exception](
        SparkEntry.queries("q55_scale")(spark, sf).collect())
      def msgs(t: Throwable): List[String] =
        if (t == null) Nil else Option(t.getMessage).toList ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("maxPrefixRows")), e.toString)
    } finally spark.conf.unset("spark.graft.q55.maxPrefixRows")
  }

  // Queries allowed to be empty at the tiny sf0.001 scale (threshold-based
  // pair finders; the planted near-dups exist at every SF, but keep slack).
  private val mayBeEmpty = Set("q13_anti_join", "q42_except")

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name runs at sf0.001") {
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty)
      val n = df.count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned 0 rows")
    }
  }
}
