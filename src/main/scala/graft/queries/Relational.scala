package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Capability-layer relational operators (SURVEY.md §2.4).
  *
  * The reference (axiom-data-science/dbsink) delegates all relational work to
  * Postgres over the tables it sinks (`/root/reference/README.md:13-15`); this
  * module provides that query surface Spark-first. Every query here has a
  * DuckDB-equivalent oracle in [[oracle]], with two parity rules:
  *
  *  - '''Money math in DECIMAL, surfaced as DOUBLE.''' Double summation is
  *    fold-order-dependent, so Spark (parallel partial aggs) and DuckDB would
  *    drift in the last ulp. Summing exact DECIMAL(18,2)/(38,4) then casting
  *    the final value to double is bit-reproducible on both engines.
  *  - '''Deterministic ORDER BY with a unique key suffix''' so row order can
  *    never differ between engines.
  *
  * Scale notes (100 TB design): aggregations are plain `groupBy.agg` →
  * HashAggregateExec with map-side partial aggregation; dimension joins
  * (region/nation/customer/supplier/part) are explicitly `broadcast()` so the
  * fact scan never shuffles for them; fact-fact joins (orders⋈lineitem) shuffle
  * on the join key only, and AQE (enabled in session conf) handles skew.
  */
object Relational {

  /** Exact decimal view of a 2-dp double column (money/quantity). */
  private def dec(c: Column): Column = c.cast("decimal(18,2)")

  /** Catalog-backed bucketed+sorted copy of `src` for the corpus at `d`,
    * provisioned on first use (the q10_scale layout — r11).
    *
    * The fact⋈fact shuffle is paid ONCE here, at layout time, instead of
    * on every join: `src` is repartitioned BY THE BUCKET HASH so each
    * write task holds exactly one bucket's rows and emits exactly one
    * file per bucket — the single-file-per-bucket invariant is what lets
    * the scan report per-bucket sort order downstream and elide both the
    * Exchange AND the Sort under a sort-merge join. Later sessions find
    * the files on disk (same deterministic warehouse path) and re-register
    * them as an external bucketed table — no rewrite, just DDL — so a
    * production pipeline pays the layout cost once per corpus, not once
    * per session. Bucket count is `graft.bucketedJoin.buckets` (default
    * 32 = one bucket per core here; on a cluster, scale with executor
    * count — both sides must agree, which the shared conf guarantees). */
  private def bucketedTable(s: SparkSession, d: String, name: String, key: String)
      (src: => DataFrame): DataFrame = {
    // Spark ≥3.0 gates sorted-bucket scan ordering behind this legacy flag;
    // with it on, FileSourceScanLike STILL verifies bucketsContainSingleFile
    // (and no coalesced buckets) before claiming an ordering — verified
    // against the 4.1.2 bytecode — so enabling it is safe session-wide and
    // is what elides the per-side Sort under the SMJ. The aligned
    // repartition below guarantees the single-file invariant for our
    // tables; foreign multi-file buckets simply keep their Sort.
    s.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    val buckets = s.conf.getOption("graft.bucketedJoin.buckets").map(_.toInt).getOrElse(32)
    // The layout directory is the managed table's own warehouse location,
    // so the table name is the directory name.
    val loc = Tables.derivedLayout(s, s.conf.get("spark.sql.warehouse.dir"),
        s"b${buckets}_$name", d, Seq(name)) { dir =>
      // The helper has deleted a stale directory (saveAsTable refuses a
      // managed-table location that exists); its catalog entry goes too.
      s.sql(s"DROP TABLE IF EXISTS ${dir.getName}")
      // Provisioning in BUCKET-RANGE chunks (r16 — the sf100 one-box
      // scratch wall): one monolithic write shuffles the whole fact at
      // once, and its row-format spill (40+ GB for 600M lineitem rows)
      // can transiently exceed a single box's scratch disk. With
      // graft.bucketedJoin.provisionChunks = N > 1, pass c writes only
      // the rows whose BUCKET ID falls in [c·B/N, (c+1)·B/N) — the
      // filter uses pmod(hash(key), B), exactly Spark's bucket-id
      // expression (HashPartitioning.partitionIdExpression, Murmur3
      // seed 42 = SQL hash()), so each bucket's rows arrive ENTIRELY in
      // one pass and the single-file-per-bucket invariant (what lets
      // the scan claim per-bucket sort order) survives appending. Each
      // pass re-scans the source but shuffles/spills only 1/N of it —
      // bounded scratch, the same final layout. On a real cluster N=1
      // is right (per-node disks absorb the shuffle); the knob exists
      // for one-box provisioning.
      val chunks = s.conf.getOption("graft.bucketedJoin.provisionChunks")
        .map(_.toInt).getOrElse(1)
      require(chunks >= 1 && chunks <= buckets,
        s"graft.bucketedJoin.provisionChunks=$chunks must be in [1, $buckets]")
      for (c <- 0 until chunks) {
        val lo = c * buckets / chunks
        val hi = (c + 1) * buckets / chunks
        val slice =
          if (chunks == 1) src
          else src.filter(pmod(hash(col(key)), lit(buckets))
            .between(lit(lo), lit(hi - 1)))
        val w = slice.repartition(buckets, col(key))
          .write.bucketBy(buckets, key).sortBy(key)
        if (c == 0) w.mode("overwrite").saveAsTable(dir.getName)
        else w.mode("append").saveAsTable(dir.getName)
      }
      ""
    }.dir
    // A fresh layout from an earlier session is re-registered, not
    // rewritten: the in-memory catalog forgets tables between sessions.
    val table = loc.getName
    if (!s.catalog.tableExists(table))
      s.sql(
        s"""CREATE TABLE $table (${src.schema.toDDL})
           |USING PARQUET
           |CLUSTERED BY ($key) SORTED BY ($key) INTO $buckets BUCKETS
           |LOCATION '$loc'""".stripMargin)
    s.table(table)
  }

  /** Parquet copy of lineitem z-ordered on (l_partkey, l_orderkey),
    * provisioned on first use — the q62 layout, z-order's answer to what
    * `bucketedTable` is for q10_scale: the layout cost is paid ONCE per
    * corpus (range-exchange on the Morton code + in-partition sort,
    * `operators/ZOrder.writeZOrdered`), and every later session finds the
    * files at the deterministic warehouse path. File count is
    * `graft.zorder.files` (default 32 here; at cluster scale use the
    * corpus's natural file count — the skip law grows with stat-granule
    * count, BENCHNOTES r11). Returns the copy with max(l_partkey) and
    * max(l_orderkey), which the build computes once and keeps as the
    * layout's state (version z1), so a warm q62 runs no bounds job. */
  private def zOrderedLineitem(s: SparkSession, d: String): (DataFrame, Long, Long) = {
    val files = s.conf.getOption("graft.zorder.files").map(_.toInt).getOrElse(32)
    val lay = Tables.derivedLayout(s, s.conf.get("spark.sql.warehouse.dir"),
        s"z${files}_lineitem", d, Seq("lineitem"), "z1") { dir =>
      graft.operators.ZOrder.writeZOrdered(Tables.lineitem(s, d),
        dir.toString, Seq("l_partkey", "l_orderkey"), files)
      val r = s.read.parquet(dir.toString)
        .agg(max(col("l_partkey")), max(col("l_orderkey"))).collect()(0)
      s"${r.getLong(0)},${r.getLong(1)}"
    }
    val Array(pMax, oMax) = lay.state.split(",").map(_.toLong)
    (Tables.parquet(s, lay.dir.toString), pMax, oMax)
  }

  // ---- q63/q64 one-pass profiler -----------------------------------------
  // The declared profile set: every column whose NDV is value-domain-bound
  // or key-scaled, so the KMV stays lossless at both oracle gates (default
  // k at sf0.01, the raised ci.sh conf at sf1 — SketchSpec pins the
  // headroom). Near-unique measure columns (l_extendedprice) are OUT by
  // design: their exact NDV is corpus-sized (q6's estimator regime).
  private val ProfNum = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_quantity", "l_discount", "l_tax")
  private val ProfTs = Seq("l_shipdate")
  private val ProfStr = Seq("l_returnflag", "l_linestatus")
  private def profCols: Seq[String] = ProfNum ++ ProfTs ++ ProfStr

  /** ONE aggregate pass over `df`: a single row holding, per profiled
    * column, the null count, a null-skipping KMV sketch (per-column null
    * exclusion INSIDE the shared pass — see KmvSketchOpt), and min/max as
    * epoch-seconds doubles for the non-string columns. Mergeable by
    * construction: counts add, ranges least/greatest, sketches union
    * (q64 exercises exactly that). */
  private def profileRow(df: DataFrame, k: Int): DataFrame = {
    // r16: the 10-column sketch pass is the profiler's whole cost and a
    // single parquet file splits only at row-group boundaries (3 scan
    // tasks at sf0.1 — 1.3 s serial-ish); scale-adaptive parallelized
    // spreads the partial aggregation, and is a no-op on real layouts.
    val dfp = Tables.parallelized(df)
    val sk = udaf(graft.functions.Sketches.KmvSketchOpt(k))
    val aggs: Seq[Column] =
      Seq(count(lit(1)).as("n_rows")) ++
      profCols.flatMap { c =>
        Seq(
          // coalesce: sum over ZERO rows is null, and a null null-count
          // poisons q64's `a + b` merge if a split half comes up empty.
          coalesce(sum(when(col(c).isNull, 1L).otherwise(0L)), lit(0L)).as(s"${c}__nn"),
          sk(when(col(c).isNotNull, xxhash64(col(c)))).as(s"${c}__sk")) ++
        (if (ProfStr.contains(c)) Seq.empty[Column]
         else {
           // The parquet vintage reads l_shipdate as TIMESTAMP_NTZ, which
           // has no direct double cast; route through TimestampType (the
           // session timezone is pinned UTC everywhere, so the hop is the
           // identity) → epoch seconds, DuckDB's epoch() twin.
           val v = if (ProfTs.contains(c)) col(c).cast("timestamp") else col(c)
           Seq(
             min(v).cast("double").as(s"${c}__mn"),
             max(v).cast("double").as(s"${c}__mx"))
         })
      }
    dfp.agg(aggs.head, aggs.tail: _*)
  }

  /** BOTH split halves' [[profileRow]] summaries from ONE scan (r17,
    * guide §1.2): q64/q65 used to profile the A and B halves in two
    * separate passes, but `l_orderkey % 2` never pushes down to parquet,
    * so each pass re-read every row group of all 10 profiled columns —
    * the table was scanned twice for aggregates that are all
    * null-skipping anyway. One pass computes the A aggregates over
    * `when(splitPred, …)` inputs and the B aggregates over the negation
    * (B columns suffixed `@b`). Every aggregate sees exactly the rows its
    * filtered twin saw — sum/min/max/KMV all skip nulls, and the
    * null-count/row-count conditionals carry the predicate explicitly —
    * so the per-half summaries (and the downstream merge algebra / drift
    * report the oracle certifies) are bit-identical. */
  private def profileRowSplit(df: DataFrame, splitPred: Column, k: Int): DataFrame = {
    val dfp = Tables.parallelized(df)
    val sk = udaf(graft.functions.Sketches.KmvSketchOpt(k))
    def half(pred: Column, suf: String): Seq[Column] =
      Seq(coalesce(sum(when(pred, 1L).otherwise(0L)), lit(0L)).as(s"n_rows$suf")) ++
      profCols.flatMap { c =>
        Seq(
          coalesce(sum(when(pred && col(c).isNull, 1L).otherwise(0L)), lit(0L))
            .as(s"${c}__nn$suf"),
          sk(when(pred && col(c).isNotNull, xxhash64(col(c)))).as(s"${c}__sk$suf")) ++
        (if (ProfStr.contains(c)) Seq.empty[Column]
         else {
           val v = if (ProfTs.contains(c)) col(c).cast("timestamp") else col(c)
           Seq(
             min(when(pred, v)).cast("double").as(s"${c}__mn$suf"),
             max(when(pred, v)).cast("double").as(s"${c}__mx$suf"))
         })
      }
    val aggs = half(splitPred, "") ++ half(!splitPred, "@b")
    dfp.agg(aggs.head, aggs.tail: _*)
  }

  /** Unpivot the 1-row summary into one (col_name, n_rows, n_null, ndv,
    * min_val, max_val) row per profiled column — a literal struct-array
    * explode, no shuffle. */
  private def profileUnpivot(one: DataFrame, k: Int): DataFrame = {
    val rows = profCols.map { c =>
      val (mn, mx) =
        if (ProfStr.contains(c))
          (lit(null).cast("double"), lit(null).cast("double"))
        else (col(s"${c}__mn"), col(s"${c}__mx"))
      struct(lit(c).as("col_name"), col("n_rows"),
        col(s"${c}__nn").as("n_null"),
        graft.functions.Sketches.kmvNdv(col(s"${c}__sk"), k).as("ndv"),
        mn.as("min_val"), mx.as("max_val"))
    }
    one.select(explode(array(rows: _*)).as("r"))
      .select(col("r.*"))
      .orderBy(col("col_name"))
  }

  /** q63's and q64's shared exact oracle — per-column statistics over the
    * whole table, one UNION branch per profiled column. */
  /** The per-column exact-stats UNION branches, optionally filtered —
    * shared by q63/q64 (whole table) and q65 (per-vintage split). */
  private def profilerBranches(where: String): Seq[String] = {
    val w = if (where.isEmpty) "" else s"\nWHERE $where"
    ProfNum.map { c =>
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
         |  CAST(count(*) - count($c) AS BIGINT) AS n_null,
         |  CAST(count(DISTINCT $c) AS DOUBLE) AS ndv,
         |  CAST(min($c) AS DOUBLE) AS min_val,
         |  CAST(max($c) AS DOUBLE) AS max_val
         |FROM lineitem$w""".stripMargin
    } ++ ProfTs.map { c =>
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
         |  CAST(count(*) - count($c) AS BIGINT) AS n_null,
         |  CAST(count(DISTINCT $c) AS DOUBLE) AS ndv,
         |  epoch(min($c)) AS min_val,
         |  epoch(max($c)) AS max_val
         |FROM lineitem$w""".stripMargin
    } ++ ProfStr.map { c =>
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
         |  CAST(count(*) - count($c) AS BIGINT) AS n_null,
         |  CAST(count(DISTINCT $c) AS DOUBLE) AS ndv,
         |  CAST(NULL AS DOUBLE) AS min_val,
         |  CAST(NULL AS DOUBLE) AS max_val
         |FROM lineitem$w""".stripMargin
    }
  }

  private lazy val profilerOracle: String =
    profilerBranches("").mkString("SELECT * FROM (\n", "\nUNION ALL\n",
      "\n) ORDER BY col_name")

  // q65's vintage split — q64's null-safe halves reinterpreted as "old"
  // (A) vs "newly landed" (B) partitions of the table.
  private val SplitA = "l_orderkey IS NULL OR l_orderkey % 2 = 0"
  private val SplitB = "l_orderkey IS NOT NULL AND l_orderkey % 2 <> 0"

  private lazy val driftOracle: String = {
    def prof(where: String) =
      profilerBranches(where).mkString("(\n", "\nUNION ALL\n", "\n)")
    s"""WITH pa AS ${prof(SplitA)},
       |pb AS ${prof(SplitB)}
       |SELECT pa.col_name,
       |  pa.n_rows AS n_rows_a, pb.n_rows AS n_rows_b,
       |  CASE WHEN pa.n_rows > 0
       |       THEN CAST(pa.n_null AS DOUBLE) / CAST(pa.n_rows AS DOUBLE) END AS null_frac_a,
       |  CASE WHEN pb.n_rows > 0
       |       THEN CAST(pb.n_null AS DOUBLE) / CAST(pb.n_rows AS DOUBLE) END AS null_frac_b,
       |  pa.ndv AS ndv_a, pb.ndv AS ndv_b,
       |  CASE WHEN pa.ndv > 0 THEN pb.ndv / pa.ndv END AS ndv_ratio,
       |  pb.min_val < pa.min_val OR pb.max_val > pa.max_val AS range_widened,
       |  coalesce(abs(CASE WHEN pb.n_rows > 0
       |                 THEN CAST(pb.n_null AS DOUBLE) / CAST(pb.n_rows AS DOUBLE) END
       |             - CASE WHEN pa.n_rows > 0
       |                 THEN CAST(pa.n_null AS DOUBLE) / CAST(pa.n_rows AS DOUBLE) END) > 0.01, FALSE)
       |  OR coalesce(CASE WHEN pa.ndv > 0 THEN pb.ndv / pa.ndv END < 0.5
       |           OR CASE WHEN pa.ndv > 0 THEN pb.ndv / pa.ndv END > 2.0, FALSE)
       |  OR coalesce(pb.min_val < pa.min_val OR pb.max_val > pa.max_val, FALSE) AS drift
       |FROM pa JOIN pb USING (col_name)
       |ORDER BY col_name""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- Aggregations -------------------------------------------------
    "q1_agg" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          (sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    "q2_distinct_agg" -> { (s, d) =>
      // r16: the 3x Expand + partial distinct-agg otherwise runs at the
      // single file's row-group parallelism (3 tasks at sf0.1).
      Tables.parallelized(Tables.lineitem(s, d))
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_orderkey")).as("n_orders"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"))
    },
    // q2's 100 TB twin (the q7/q7_scale pairing pattern): SAME exact answer,
    // different physical shape. The built-in multi-column countDistinct
    // plans as a 3× Expand (one replica per distinct clause + one for the
    // plain count) whose tripled rows all funnel through ONE
    // (returnflag, key, gid) exchange; here each distinct column gets its
    // own two-level pipeline — groupBy(flag, key) dedups pairs with
    // map-side partial aggregation, then a flag-keyed count collapses —
    // and the three 3-row results meet in broadcast joins. Three thin
    // 2-column scans replace one 3×-expanded pipeline; each shuffle
    // carries exactly the distinct pairs of ITS column, nothing tripled.
    // Still linear in distinct pairs (inherent to exactness — q6's sketch
    // is the sublinear answer when ±2% is acceptable). Measured (BENCHNOTES
    // r10): 17% faster than the Expand plan at sf10 (16.4 vs 19.8 s) but
    // SLOWER at sf1 (2.5 vs 1.9 s) — the three-scan overhead only pays
    // once the tripled shuffle dominates, which is exactly the 100 TB
    // regime this twin exists for.
    "q2_scale" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      // count(col) not count(*): the deduped pair set keeps one
      // (flag, NULL) row per flag, and SQL COUNT(DISTINCT key) excludes
      // nulls — counting the key column skips that row (r13 audit).
      def nDistinct(key: String, out: String) =
        li.select(col("l_returnflag"), col(key)).distinct()
          .groupBy(col("l_returnflag")).agg(count(col(key)).as(out))
      nDistinct("l_partkey", "n_parts")
        .join(nDistinct("l_orderkey", "n_orders"), "l_returnflag")
        .join(li.groupBy(col("l_returnflag")).agg(count(lit(1)).as("n_rows")),
          "l_returnflag")
        .orderBy(col("l_returnflag"))
    },
    "q3_rollup" -> { (s, d) =>
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
             count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },
    "q4_cube" -> { (s, d) =>
      Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(sum(dec(col("o_totalprice"))).cast("double").as("sum_price"),
             count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    },

    // Exact interpolated percentiles over integral keys (fp interpolation
    // of small ints is exact on both engines).
    "q7_percentiles" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_partkey, 0.5)").as("p50"),
          expr("percentile(l_partkey, 0.9)").as("p90"),
          expr("percentile(l_linenumber, 0.25)").as("q1_line"))
        .orderBy(col("l_returnflag"))
    },
    // q7's SCALE TWIN (r7, same playbook as q55_scale): Spark's exact
    // `percentile` buffers a value→count map PER AGGREGATION BUFFER and
    // merges those maps up a 3-reducer tree — measured: the #3 fact
    // hotspot at sf1 (4.4 s) and an OutOfMemoryError at sf10's 60M rows,
    // while this twin finishes in 19 s. It computes the SAME doubles from
    // a domain-bound counts table: one groupBy(flag, value) shuffle
    // (map-side combined, result ≤ |domain|·|flags| rows regardless of n),
    // a TWO-LEVEL cumulative-rank prefix over that table (see inside —
    // no |flags|-partition window anywhere), then order statistics by
    // rank lookup.
    // The interpolation replicates Percentile.getPercentile arithmetic
    // EXACTLY — pos = q·(n−1); (ceil−pos)·v_lo + (pos−floor)·v_hi, same
    // double operation order — so the twin hash-matches q7 (and its
    // DuckDB quantile_cont oracle) bit-for-bit. Shuffles carry counts,
    // never raw values; reducer memory is domain-bound, not n-bound.
    "q7_scale" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val li = Tables.lineitem(s, d)
      def exactPct(valueCol: String, quantiles: Seq[(String, Double)]): DataFrame = {
        // TWO-LEVEL prefix (q55's lesson applied to its own machinery): a
        // plain partitionBy(flag) running total would serialize the counts
        // table over |flags| partitions — at sf10 that is a 3-reducer
        // window over 6M rows, the exact wall the twin exists to remove.
        // Instead: coarse 64Ki-value buckets get an exclusive prefix on a
        // (domain/65536 · flags)-row table (tiny forever), broadcast back;
        // the fine running total partitions by (flag, coarse) — thousands
        // of independent partitions. cum = coarse base + fine cum, exact
        // integer addition.
        // NULL semantics must be the builtin's (r8): `percentile` IGNORES
        // null values but still emits a row (null percentiles) for a group
        // whose values are all null, and a null GROUP KEY is a group like
        // any other. So: null-v rows stay out of the rank machinery and
        // out of n, every flag (null included, via null-safe joins and the
        // nTot left-join below) reaches the output, and an all-null flag
        // interpolates null from its empty rank probes — the silent
        // alternative (counting nulls into n while dropping them from
        // ranks) skews every probe rank on null-laden data.
        val counts = li.groupBy(col("l_returnflag"), col(valueCol).as("v"))
          .agg(count(lit(1)).as("c"))
          .withColumn("cg", expr("v div 65536"))
          .localCheckpoint(true) // two consumers; don't re-run the corpus agg
        val cgTot = counts.groupBy(col("l_returnflag").as("t_flag"), col("cg").as("t_cg"))
          .agg(sum(col("c")).as("cgc"))
        val wCoarse = Window.partitionBy(col("t_flag")).orderBy(col("t_cg"))
        val cgPref = cgTot.filter(col("t_cg").isNotNull)
          .select(col("t_flag"), col("t_cg"),
            (sum(col("cgc")).over(wCoarse) - col("cgc")).as("base"))
        // n = non-null values only (cg is null iff v is null), but keep
        // every flag so all-null groups survive to the output row.
        val nTot = cgTot.groupBy(col("t_flag").as("n_flag"))
          .agg(sum(when(col("t_cg").isNotNull, col("cgc")).otherwise(lit(0L))).as("n"))
        val fine = Window.partitionBy(col("l_returnflag"), col("cg")).orderBy(col("v"))
        val ranked = counts.filter(col("v").isNotNull)
          .withColumn("fine_cum", sum(col("c")).over(fine))
          .join(broadcast(cgPref),
            col("l_returnflag") <=> col("t_flag") && col("cg") === col("t_cg"))
          .join(broadcast(nTot), col("l_returnflag") <=> col("n_flag"))
          .withColumn("cum", col("base") + col("fine_cum"))
        // Row covers sorted 0-based ranks [cum−c, cum−1]; the value at rank
        // r is min(v | cum > r). floor/ceil of a double are LONG in Spark,
        // so the rank probes stay integer comparisons against cum.
        val aggs = quantiles.flatMap { case (name, q) =>
          val pos = lit(q) * (col("n") - 1).cast("double")
          Seq(
            min(when(col("cum") > floor(pos), col("v"))).cast("double").as(s"${name}_lo"),
            min(when(col("cum") > ceil(pos), col("v"))).cast("double").as(s"${name}_hi"))
        }
        val agged = ranked.groupBy(col("l_returnflag").as("a_flag"))
          .agg(aggs.head, aggs.tail: _*)
        // nTot holds EVERY flag (null-keyed and all-null groups included);
        // a left join leaves the latter's lo/hi probes null and the
        // interpolation yields null — the builtin's row for such a group.
        val withN = nTot.join(agged, col("n_flag") <=> col("a_flag"), "left")
          .withColumn("l_returnflag", col("n_flag"))
        quantiles.foldLeft(withN) { case (df, (name, q)) =>
          val pos = lit(q) * (col("n") - 1).cast("double")
          df.withColumn(name,
            when(floor(pos) === ceil(pos), col(s"${name}_lo"))
              .otherwise((ceil(pos).cast("double") - pos) * col(s"${name}_lo") +
                (pos - floor(pos).cast("double")) * col(s"${name}_hi")))
        }.select(col("l_returnflag") +: quantiles.map(q => col(q._1)): _*)
      }
      val byLine = exactPct("l_linenumber", Seq("q1_line" -> 0.25))
        .withColumnRenamed("l_returnflag", "b_flag")
      exactPct("l_partkey", Seq("p50" -> 0.5, "p90" -> 0.9))
        // null-safe: a null flag group must pair with itself, not vanish
        .join(byLine, col("l_returnflag") <=> col("b_flag")).drop("b_flag")
        .orderBy(col("l_returnflag"))
    },
    // Moment statistics computed from exact decimal sums (rather than the
    // engines' internal Welford paths, which differ in fp rounding):
    // mean, sample variance, stddev — bit-reproducible on both engines.
    "q8_moments" -> { (s, d) =>
      val x = col("o_totalprice").cast("decimal(18,2)")
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n"),
          sum(x).cast("double").as("sum_x"),
          sum(x * x).cast("double").as("sum_xx"))
        .select(
          col("o_orderstatus"), col("n"),
          (col("sum_x") / col("n")).as("mean"),
          // n = 1 ⇒ sample variance is undefined: NULL (DuckDB's x/0),
          // not an ANSI divide-by-zero job-kill (r13 audit class).
          when(col("n") > 1,
            (col("sum_xx") - col("sum_x") * col("sum_x") / col("n")) / (col("n") - 1))
            .as("variance"),
          when(col("n") > 1,
            sqrt((col("sum_xx") - col("sum_x") * col("sum_x") / col("n")) / (col("n") - 1)))
            .as("stddev"))
        .orderBy(col("o_orderstatus"))
    },
    // Pivot: wide aggregation by category value.
    "q9_pivot" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_linestatus"))
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum(dec(col("l_quantity"))).cast("double"))
        .orderBy(col("l_linestatus"))
    },
    // Correlated scalar subquery (Catalyst decorrelates to a join).
    "q16_scalar_subquery" -> { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("q16_orders")
      Tables.customer(s, d).createOrReplaceTempView("q16_customer")
      s.sql(
        """SELECT c_custkey,
          |  (SELECT count(*) FROM q16_orders o
          |   WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000) AS n_big
          |FROM q16_customer c
          |ORDER BY c_custkey""".stripMargin)
    },

    // ---- Joins --------------------------------------------------------
    "q10_join_agg" -> { (s, d) =>
      val o = Tables.orders(s, d); val l = Tables.lineitem(s, d)
      o.join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
               .cast("double").as("revenue"),
             count(lit(1)).as("n_items"))
        .orderBy(col("o_orderpriority"))
    },
    // Bucketed-layout twin of q10 (r11): q10 is the ~25×/decade fact⋈fact
    // control — the one-box measurement of the shuffle wall, network-bound
    // on a real cluster. The storage-layout answer is a CO-LOCATED join:
    // both facts bucketed and sorted on the join key into the same bucket
    // count, so the join runs with NO Exchange and NO Sort on either side
    // (PlanSpec pins the join subtree Exchange-free). First run per corpus
    // provisions the layout via `bucketedTable`; steady-state sessions
    // reuse the files. Result is row-identical to q10 — the oracle is
    // q10's SQL verbatim, so the hash gate proves layout ≠ semantics.
    "q10_scale" -> { (s, d) =>
      val o = bucketedTable(s, d, "orders", "o_orderkey")(Tables.orders(s, d))
      val l = bucketedTable(s, d, "lineitem", "l_orderkey")(Tables.lineitem(s, d))
      o.join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
               .cast("double").as("revenue"),
             count(lit(1)).as("n_items"))
        .orderBy(col("o_orderpriority"))
    },
    // Z-order layout made driver-visible (r12), the way q10_scale makes
    // bucketing visible: a two-dimensional range predicate reads the
    // z-ordered lineitem copy, hash-oracled against the same SQL over the
    // PLAIN layout — so the gate proves the Morton rewrite is LOSSLESS
    // (every row survives the re-layout) while the physical win is that
    // both dims' parquet min/max envelopes are narrow, so the scan prunes
    // files and row groups on the conjunction (FormatsSpec pins envelopes
    // from actual footers; LayoutBench measures scan-emitted rows at
    // sf0.1-sf10 — plain reads 100%, z-order ~1.7% on this slab shape).
    // The ~5%-per-dim bounds (max/20 — small enough to skip, populated at
    // every gate SF incl. sf0.001) are corpus-derived LONG literals: a 2-column
    // max agg, run once when the layout is built and kept in its state,
    // whose two scalars fold into the pushed filter (the
    // ZOrder.withZValue stats idiom — literals are what parquet pushdown
    // needs; a broadcast-joined bound column would defeat the footer
    // skip, and so would a DOUBLE bound — `long_col <= 119.9` casts the
    // COLUMN to double and the cast blocks pushdown entirely, the
    // PlanSpec pin that caught it). Integer floor-division bounds are
    // value-identical for an integer key; DuckDB's oracle derives the
    // same bounds by scalar `//` subquery.
    "q62_zorder_scan" -> { (s, d) =>
      val (z, pMax, oMax) = zOrderedLineitem(s, d)
      val (pHi, oHi) = (pMax / 20, oMax / 20)
      z.filter(col("l_partkey") <= pHi && col("l_orderkey") <= oHi)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_price"))
        .orderBy(col("l_returnflag"))
    },
    // One-pass table profiler — ANALYZE at 100 TB: per-column null counts,
    // distinct counts, and value ranges for the whole table from a SINGLE
    // corpus scan. NDV rides the null-skipping KMV sketch (KmvSketchOpt:
    // per-COLUMN null exclusion inside the shared pass — a query-level
    // filter would drop whole rows), so the exchange carries one bounded
    // summary per column per partition, never values: O(cols · k ·
    // partitions) regardless of corpus size, where the exact
    // count(distinct) per column would each be its own corpus-sized
    // shuffle (q2's Expand wall, times ten). min/max/counts are ordinary
    // map-side partials. Exact below capacity (the oracle regime — every
    // profiled column's domain is value-bounded or key-scaled, which is
    // WHY l_extendedprice, near-unique at any SF, is out of the declared
    // set: its exact NDV is corpus-sized and belongs to the estimator
    // regime, q6's adjudicated territory). Strings profile counts+NDV
    // only (their min/max is not a DOUBLE; the uniform schema keeps the
    // unpivot one struct array).
    "q63_table_stats" -> { (s, d) =>
      val k = s.conf.get("spark.graft.sketch.k", "16384").toInt
      profileUnpivot(profileRow(Tables.lineitem(s, d), k), k)
    },
    // Incremental profiler maintenance — the reason q63's summaries are
    // MERGEABLE: profile two disjoint halves of the corpus separately,
    // then merge the 1-row summaries with pure column ops (counts add,
    // ranges least/greatest, KMV sketches union via sorted array ops —
    // q58's composition) and unpivot the SAME stats schema. The oracle is
    // q63's exact SQL VERBATIM, so the hash gate itself proves
    // profile(A ∪ B) == merge(profile(A), profile(B)) cell-for-cell. At
    // 100 TB this is how stats stay fresh: profile ONLY the newly landed
    // partition and merge it into yesterday's summary — no rescan of the
    // other 99.9 TB.
    "q64_stats_merge" -> { (s, d) =>
      val k = s.conf.get("spark.graft.sketch.k", "16384").toInt
      val li = Tables.lineitem(s, d)
      // Null-SAFE split: a plain `% 2 === 0` / `=!= 0` pair evaluates to
      // null on a null key and drops the row from BOTH halves — the merge
      // would silently undercount vs q63's whole-table oracle (caught by
      // the adversarial corpus's null-orderkey row). Nulls go to half A.
      // r17: both halves' summaries come from ONE scan (profileRowSplit —
      // the split predicate cannot push down, so the two-pass shape read
      // the table twice); the per-half sketches/counts/ranges and the
      // merge algebra below are unchanged, and the verbatim-q63 oracle
      // still certifies profile(A ∪ B) == merge(profile(A), profile(B)).
      val merged = profileRowSplit(li,
        col("l_orderkey").isNull || col("l_orderkey") % 2 === 0, k).select(
        (col("n_rows") + col("n_rows@b")).as("n_rows") +:
        profCols.flatMap { c =>
          Seq(
            (col(s"${c}__nn") + col(s"${c}__nn@b")).as(s"${c}__nn"),
            graft.functions.Sketches
              .kmvUnion(col(s"${c}__sk"), col(s"${c}__sk@b"), k)
              .as(s"${c}__sk")) ++
          (if (ProfStr.contains(c)) Seq.empty[Column]
           else Seq(
             least(col(s"${c}__mn"), col(s"${c}__mn@b")).as(s"${c}__mn"),
             greatest(col(s"${c}__mx"), col(s"${c}__mx@b")).as(s"${c}__mx")))
        }: _*)
      profileUnpivot(merged, k)
    },
    // Profile DRIFT report — the data-quality regression check a 100 TB
    // pipeline runs when a new vintage lands: profile the "old" (A) and
    // "new" (B) partitions independently (q64's null-safe split), join the
    // two 10-row summaries on col_name, and emit per-column drift metrics
    // (null-fraction delta, NDV ratio, range widening) plus one boolean
    // verdict per column. The per-split profile is q63's ONE-pass shape,
    // so the whole report costs two narrow scans and a 10-row join; at
    // scale the A side comes from yesterday's PERSISTED summary (q64's
    // merge keeps it fresh) and only B is actually scanned. Thresholds
    // (|Δnull_frac| > 0.01, ndv_ratio ∉ [0.5, 2], range widened) are the
    // report's contract, computed identically in the oracle.
    "q65_profile_drift" -> { (s, d) =>
      val k = s.conf.get("spark.graft.sketch.k", "16384").toInt
      val li = Tables.lineitem(s, d)
      // r17: a fused single-scan variant (profileRowSplit, the q64 shape)
      // was measured HERE and REJECTED — isolated min-of-5 at sf0.1 said
      // 1.19 s (this two-pass form) vs 1.63 s (fused): the two per-vintage
      // profile subtrees are independent stages that the scheduler runs
      // CONCURRENTLY (guide §2.6 — the halves overlap on idle cores), while
      // the fused pass serializes twenty null-skipping aggregate buffers
      // through one stage and adds a checkpoint job to feed both unpivot
      // branches. q64 keeps the fused pass (its merge consumes the one row
      // directly — no second consumer, measured neutral-to-better); the
      // drift report keeps the overlap.
      val pa = profileUnpivot(profileRow(li.filter(
        col("l_orderkey").isNull || col("l_orderkey") % 2 === 0), k), k)
      val pb = profileUnpivot(profileRow(li.filter(
        col("l_orderkey").isNotNull && col("l_orderkey") % 2 =!= 0), k), k)
      val a = pa.select(col("col_name"), col("n_rows").as("n_rows_a"),
        col("n_null").as("n_null_a"), col("ndv").as("ndv_a"),
        col("min_val").as("min_a"), col("max_val").as("max_a"))
      val b = pb.select(col("col_name"), col("n_rows").as("n_rows_b"),
        col("n_null").as("n_null_b"), col("ndv").as("ndv_b"),
        col("min_val").as("min_b"), col("max_val").as("max_b"))
      a.join(b, "col_name")
        .withColumn("null_frac_a", when(col("n_rows_a") > 0,
          col("n_null_a").cast("double") / col("n_rows_a").cast("double")))
        .withColumn("null_frac_b", when(col("n_rows_b") > 0,
          col("n_null_b").cast("double") / col("n_rows_b").cast("double")))
        .withColumn("ndv_ratio", when(col("ndv_a") > 0, col("ndv_b") / col("ndv_a")))
        .withColumn("range_widened",
          col("min_b") < col("min_a") || col("max_b") > col("max_a"))
        .withColumn("drift",
          coalesce(abs(col("null_frac_b") - col("null_frac_a")) > 0.01, lit(false)) ||
            coalesce(col("ndv_ratio") < 0.5 || col("ndv_ratio") > 2.0, lit(false)) ||
            coalesce(col("range_widened"), lit(false)))
        .select(col("col_name"), col("n_rows_a"), col("n_rows_b"),
          col("null_frac_a"), col("null_frac_b"), col("ndv_a"), col("ndv_b"),
          col("ndv_ratio"), col("range_widened"), col("drift"))
        .orderBy(col("col_name"))
    },
    "q11_join_dims" -> { (s, d) =>
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d); val r = Tables.region(s, d)
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_cust"),
             sum(dec(col("c_acctbal"))).cast("double").as("sum_bal"))
        .orderBy(col("r_name"))
    },
    "q12_semi_join" -> { (s, d) =>
      val c = Tables.customer(s, d); val o = Tables.orders(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },
    "q13_anti_join" -> { (s, d) =>
      val c = Tables.customer(s, d)
      val big = Tables.orders(s, d).filter(col("o_totalprice") > 300000)
      c.join(big, c("c_custkey") === big("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },
    "q14_left_join" -> { (s, d) =>
      val c = Tables.customer(s, d); val o = Tables.orders(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy(col("c_custkey"))
    },

    "q19_right_join" -> { (s, d) =>
      // Right outer: every customer is kept even when the (filtered) order
      // side has no match — the mirror image of q14's left join.
      val big = Tables.orders(s, d).filter(col("o_totalprice") > 200000)
      val c = Tables.customer(s, d)
      big.join(c, big("o_custkey") === c("c_custkey"), "right")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_big_orders"))
        .orderBy(col("c_custkey"))
    },
    "q15_full_outer" -> { (s, d) =>
      // big vs small customers per nation: full outer keeps nations present
      // on only one side.
      val big = Tables.customer(s, d).filter(col("c_acctbal") > 9000)
        .groupBy(col("c_nationkey").as("nk")).agg(count(lit(1)).as("n_big"))
      val neg = Tables.customer(s, d).filter(col("c_acctbal") < -900)
        .groupBy(col("c_nationkey").as("nk2")).agg(count(lit(1)).as("n_neg"))
      big.join(neg, col("nk") === col("nk2"), "full_outer")
        .select(coalesce(col("nk"), col("nk2")).cast("int").as("nationkey"),
          col("n_big"), col("n_neg"))
        .orderBy(col("nationkey"))
    },
    "q5_grouping_sets" -> { (s, d) =>
      Tables.lineitem(s, d).createOrReplaceTempView("q5_lineitem")
      s.sql(
        """SELECT l_returnflag, l_linestatus,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          |  count(*) AS n
          |FROM q5_lineitem
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)
    },
    // HLL++ approximate distinct: engine-specific estimates (no cross-engine
    // oracle) — rows-only check; FormatsSpec bounds the error against an
    // exact count it computes itself. Sketch-ONLY (r8, q45's rationale
    // applied): this query IS the scale path for distinct counting — the
    // HLL sketch is fixed-size and mergeable, so it partial-aggregates
    // map-side and stays linear, while an embedded exact countDistinct
    // comparison column re-introduced the very Expand + distinct-pair
    // shuffle the sketch exists to avoid (measured: the column made q6
    // 12.8×/decade at sf10 — BENCHNOTES r8 — against the sketch's own
    // linear cost). Exact distincts remain available as q2_distinct_agg.
    // r11 adjudication of the "bounded row" ask: an in-query within_bound
    // column needs the exact count on the SPARK side too — the r8-measured
    // regression, not an oracle limitation — so q6 stays rows-only;
    // the hash-green sketch distinct is q57_kmv_distinct (lossless below
    // k ⇒ exact-SQL oracle), which supersedes this as the oracled path.
    "q6_approx_distinct" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"))
        .orderBy(col("l_returnflag"))
    },

    // Approximate percentiles — the SCALE path to q7's exact percentile:
    // exact percentile materializes every group value in one aggregation
    // buffer (fine at thousands per group, lethal at 100 TB), while the
    // G-K sketch behind approx_percentile is bounded-size and mergeable,
    // so it partial-aggregates map-side like any sum. Sketch-ONLY on
    // purpose: embedding the exact twin here would re-introduce the very
    // unbounded buffer this query exists to avoid — FormatsSpec bounds the
    // error against q7's exact output instead. Sketch internals are
    // engine-specific (no cross-engine oracle) — rows-only.
    // r11 adjudication (same shape as q6): a within_bound column requires
    // the exact percentile buffer on the Spark side — q7's buffer OOMs at
    // sf10, so embedding it would take q45 down with it; the error bound
    // lives in FormatsSpec where it runs at test SF only, by design.
    "q45_approx_percentiles" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(expr("approx_percentile(l_partkey, 0.5, 1000)").as("p50_approx"),
             expr("approx_percentile(l_partkey, 0.9, 1000)").as("p90_approx"))
        .orderBy(col("l_returnflag"))
    },

    // SQL three-valued-logic pin: NOT IN against a NULL-tainted subquery
    // yields UNKNOWN for every non-member (so zero rows survive), while
    // NOT EXISTS is a plain anti join and keeps the real complement —
    // the classic silent-wrong-answer trap in hand-written SQL. Both
    // engines must agree on BOTH counts. Spark can only plan a nullable
    // NOT IN as a null-aware anti join that BROADCASTS the whole subquery
    // — the r10 sf100 sweep killed it live on a 600M-value broadcast — so
    // the NOT IN branch is decomposed into its own definition: if the
    // subquery contains any NULL no row can pass (the AND-chain of <>
    // comparisons is UNKNOWN at best), otherwise it is a plain anti join.
    // The null probe runs FIRST, at plan-construction time (a `limit 1`
    // scan that short-circuits on the first NULL-producing row), and the
    // anti-join branch is only BUILT when the probe comes back clean: the
    // r10 CASE form evaluated both branches' uncorrelated scalar
    // subqueries eagerly, so the common NULL-tainted case still paid a
    // full discarded anti-join pass (ADVICE r10). When the probe does
    // find the set null-free, the anti join runs against the DISTINCT
    // value set (one map-side-combining agg — NOT IN only ever consults
    // membership) — shuffleable, linear at any scale. NOT EXISTS stays
    // engine-native on the raw table: that it needs NO rewrite is its
    // half of the lesson. The DuckDB oracle still runs the LITERAL
    // `NOT IN`, so the hash gate pins the decomposition to the
    // engine-native semantics.
    "q46_null_semantics" -> { (s, d) =>
      val l = Tables.lineitem(s, d)
      val p = Tables.part(s, d)
      val v = when(col("l_quantity") > 49, col("l_partkey")).as("v")
      val subqueryHasNull = !l.select(v).filter(col("v").isNull).isEmpty
      val nNotExists =
        p.join(l.filter(col("l_quantity") > 49).select(col("l_partkey")),
            col("p_partkey") === col("l_partkey"), "left_anti")
          .agg(count(lit(1)).as("n_not_exists"))
      if (subqueryHasNull)
        // Three-valued logic: any NULL in the set makes every NOT IN
        // comparison UNKNOWN-at-best — zero rows pass, no join is built.
        nNotExists.select(lit(0L).as("n_not_in"), col("n_not_exists"))
      else
        // Clean set: plain anti join on the distinct values. The 1×1
        // combine is a nested-loop join over two single-row aggregates —
        // constant work; the anti joins themselves stay shuffleable.
        p.join(l.select(v).filter(col("v").isNotNull).distinct(),
            col("p_partkey") === col("v"), "left_anti")
          .agg(count(lit(1)).as("n_not_in"))
          .crossJoin(nNotExists)
    },

    // Groupwise filtering — "rows above their own group's average" — the
    // canonical correlated-aggregate-subquery shape. Planned as a WINDOW
    // (one shuffle on the group key, each partition scanned once) instead
    // of the naive self-join/correlated rewrite, which recomputes the
    // aggregate per probe. The average is an exact decimal sum divided
    // once in IEEE doubles, so both engines compare identical values at
    // the > boundary.
    "q47_above_group_avg" -> { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
      Tables.orders(s, d)
        .withColumn("cust_avg",
          sum(col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double") /
            count(lit(1)).over(w).cast("double"))
        .filter(col("o_totalprice") > col("cust_avg"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("cust_avg"))
        .orderBy(col("o_orderkey"))
    },

    // Salted two-phase aggregation, driver-facing: l_returnflag has THREE
    // values over the whole table — the textbook hot-key aggregation AQE
    // cannot split (it only rewrites joins). Phase 1 spreads each key over
    // 8 content-derived salts (retry-deterministic, operators/Skew.scala),
    // phase 2 merges partials per key. Decimal partial sums are exact and
    // order-free, so salted == unsalted bit-for-bit — which is exactly what
    // the plain-GROUP-BY oracle proves.
    "q50_salted_agg" -> { (s, d) =>
      graft.operators.Skew.saltedAggregate(
        Tables.lineitem(s, d).select(col("l_returnflag"), col("l_quantity")),
        keys = Seq("l_returnflag"), salts = 8,
        partials = Seq(count(lit(1)).as("pc"),
          sum(col("l_quantity").cast("decimal(18,2)")).as("ps")),
        merges = Seq(sum(col("pc")).cast("bigint").as("n"),
          sum(col("ps")).cast("double").as("sum_qty")))
        .orderBy(col("l_returnflag"))
    },

    // UNPIVOT/melt: wide measure columns to long (measure, value) form —
    // the normalization step feeding generic per-measure pipelines. A
    // narrow Expand (each row emits k rows, no shuffle until the agg);
    // sums go through DECIMAL for cross-engine exactness. NULL caveat:
    // Spark's unpivot KEEPS null values where SQL-standard UNPIVOT
    // (DuckDB's included) drops them — these measures are non-null (TPC-H
    // invariant), but melting nullable columns needs an explicit
    // `.filter(col("val").isNotNull)` to match SQL semantics.
    "q49_unpivot" -> { (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("double").as("l_quantity"),
          col("l_extendedprice").cast("double").as("l_extendedprice"),
          col("l_discount").cast("double").as("l_discount"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "measure", "val")
        // SQL-standard UNPIVOT (and the DuckDB oracle) EXCLUDES null
        // measure values; Spark's unpivot keeps them (adversarial-audit
        // divergence on null-measure rows). Pin the SQL convention.
        .filter(col("val").isNotNull)
        .groupBy(col("measure"))
        .agg(count(lit(1)).as("n"),
          sum(col("val").cast("decimal(18,2)")).cast("double").as("total"))
        .orderBy(col("measure"))
    },

    // Bloom-pruned join (semi-join reduction): build a Bloom filter over
    // the SMALL side's join keys, probe it on the fat side BEFORE the join
    // shuffle — at 100 TB this is the difference between shuffling the
    // whole fact table and shuffling only rows that can possibly match
    // (what Spark's runtime row-level filtering injects automatically when
    // statistics allow; built explicitly here so the shape is pinned and
    // testable). Pruning is CONSERVATIVE (no false negatives), so the
    // result is the exact join result — false positives only cost shuffle
    // bytes, never correctness — which is what makes this oracle-exact.
    // The probe is a typed per-row lambda (the bloom sketch has no Column
    // probe API) — a narrow map, the one place a non-codegen filter is
    // inherent to the operator.
    "q48_bloom_prune_join" -> { (s, d) =>
      import s.implicits._
      val rich = Tables.customer(s, d).filter(col("c_acctbal") > 9000)
        .select(col("c_custkey"), col("c_acctbal"))
      val bloom = rich.stat.bloomFilter("c_custkey", 10000, 0.01)
      val bc = s.sparkContext.broadcast(bloom)
      val pruned = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .as[(Long, Long, Double)]
        .filter(r => bc.value.mightContain(r._2))
        .toDF("o_orderkey", "o_custkey", "o_totalprice")
      pruned.join(rich, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("c_acctbal"))
        .orderBy(col("o_orderkey"))
    },

    // Filtered (conditional) aggregation — SQL's `FILTER (WHERE …)` clause,
    // expressed as sum(when(...)) so every conditional branch stays inside
    // ONE map-side partial aggregate: five measures over two predicates in
    // a single scan + single shuffle, where naive per-predicate subqueries
    // would scan the fact table once per measure. Decimal conditional sums
    // keep the hash oracle exact.
    "q51_filtered_agg" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      li.groupBy(col("l_linestatus"))
        .agg(
          count(lit(1)).as("n_total"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("n_returned"),
          sum(when(col("l_returnflag") === "R",
            col("l_quantity").cast("decimal(18,2)"))).cast("double").as("qty_returned"),
          sum(when(col("l_quantity") > 30, 1L).otherwise(0L)).as("n_big"),
          sum(when(col("l_quantity") > 30,
            col("l_extendedprice").cast("decimal(18,2)"))).cast("double").as("price_big"))
        .orderBy(col("l_linestatus"))
    },

    // Per-group mode (most frequent value) with a total-order tiebreak
    // (count desc, then value asc) so the answer is deterministic — the
    // categorical twin of q47's numeric groupwise stats. Two-level shape:
    // an exact (group, value) count, then a per-group argmax window; both
    // hash-partition by the group key and the value-count pre-aggregation
    // bounds the window input to |distinct values| rows per group, so at
    // 100 TB the windowed stage sees cardinality-of-domain rows, not
    // corpus rows.
    "q52_mode" -> { (s, d) =>
      val pick = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("cnt").desc, col("o_orderpriority"))
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("n_total",
          sum(col("cnt")).over(Window.partitionBy(col("o_orderstatus"))).cast("bigint"))
        .withColumn("rn", row_number().over(pick))
        .filter(col("rn") === 1)
        .select(col("o_orderstatus"), col("o_orderpriority").as("mode_priority"),
          col("cnt").as("n_mode"), col("n_total"))
        .orderBy(col("o_orderstatus"))
    },

    // Equi-depth (quartile) histogram WITHOUT a global sort: a naive
    // ntile() needs one total-order window partition — the classic
    // single-reducer bottleneck — so instead the three quartile boundaries
    // reduce out of a percentile aggregate (map-side partials), broadcast
    // back, and bucket assignment is a narrow CASE scan + one aggregation
    // shuffle. Boundaries are computed on CENTS (round(price·100) BIGINT):
    // percentile interpolation between INTEGER neighbors at g ∈ {0,¼,½,¾}
    // is exact in IEEE doubles on both engines, where interpolating raw
    // doubles is arithmetic-order-specific (Spark (1−g)a+gb vs DuckDB
    // a+(b−a)g) and can drift an ulp.
    "q53_equidepth" -> { (s, d) =>
      val cents = round(col("o_totalprice") * 100).cast("bigint")
      val b = Tables.orders(s, d)
        .select(cents.as("cents"))
        .agg(expr("percentile(cents, array(0.25, 0.5, 0.75))").as("bs"))
      Tables.orders(s, d)
        .withColumn("cents", cents)
        .crossJoin(broadcast(b))
        .withColumn("bucket",
          when(col("cents") <= col("bs")(0), 1)
            .when(col("cents") <= col("bs")(1), 2)
            .when(col("cents") <= col("bs")(2), 3)
            .otherwise(4))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .orderBy(col("bucket"))
    },

    // Salted skew JOIN surfaced as a driver query (q50's join-side twin):
    // the fact side hashes o_orderpriority — FIVE values over the whole
    // table, the hot-key join AQE's skew split handles only after the
    // fact — across 8 content-derived salts while the dim side replicates
    // 8×, so no single reducer owns a whole priority. The dim here is the
    // per-priority aggregate (attach-group-stats-to-rows, the classic
    // skewed enrichment); at this size it would broadcast anyway — the
    // point is the SEMANTICS proof: the plain-join oracle shows salted ==
    // unsalted row-for-row, which is what licenses the rewrite on a dim
    // that is too big to broadcast but small enough to replicate.
    "q54_salted_join" -> { (s, d) =>
      val dim = Tables.orders(s, d)
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("prio_n"))
      val big = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority"))
      graft.operators.Skew.saltedJoin(big, dim, "o_orderpriority", salts = 8)
        .select(col("o_orderkey"), col("o_orderpriority"), col("prio_n"))
        .orderBy(col("o_orderkey"))
    },

    // Numeric RANGE window frame (e11's value-domain sibling): per order,
    // how many orders of the same status fall within $100 BELOW its
    // price, and their decimal-exact total. Value-based frames are
    // tie-UNAMBIGUOUS by construction (peers share a frame), so no
    // row_number tiebreak is needed for determinism — the reason this is
    // hash-oracle-safe per row. One status-keyed exchange. COST MODEL:
    // Spark's sliding-frame evaluation does not retract, so a bounded-
    // preceding RANGE frame re-aggregates O(w̄) rows per row — total
    // O(n·w̄) per partition (measured: a $1000 band over sf0.1's dense
    // prices was the slowest query in the suite at 3.8 s; $100 ≈ w̄/10).
    // At scale, wide bands over dense domains belong on bucketed
    // pre-aggregation (e20's histogram) or the e5 range join, not a
    // per-row frame. The Scala DSL only takes Long range bounds, so the
    // frame is declared in SQL.
    "q55_num_range_frame" -> { (s, d) =>
      // Band honors the same conf as the scale twin so the frame-vs-join
      // experiment (BENCHNOTES) compares identical work; the shipped
      // default matches the oracle's hardcoded 100.0.
      val band = s.conf.get("spark.graft.q55.band", "100.0").toDouble
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .withColumn("n_band", expr(
          s"count(*) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice " +
            s"RANGE BETWEEN $band PRECEDING AND CURRENT ROW)"))
        .withColumn("band_total", expr(
          s"CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (" +
            s"PARTITION BY o_orderstatus ORDER BY o_totalprice " +
            s"RANGE BETWEEN $band PRECEDING AND CURRENT ROW) AS DOUBLE)"))
        .orderBy(col("o_orderkey"))
    },

    // q55's SCALE TWIN: the same per-row band count/total computed WITHOUT
    // a window frame — the scale path for wide bands over dense value
    // domains. Why the twin exists: Spark's sliding RANGE frame does not
    // retract, so q55 re-aggregates O(w̄) rows per row, serialized over
    // THREE o_orderstatus partitions — wall-clock ∝ n·w̄/3 no matter how
    // many cores the cluster has. MEASURED (BENCHNOTES r7): the naive
    // band-wide bucketed self-join is NOT the answer — per-pair join cost
    // is ~20–50× the window's buffer-scan cost, so 32-vs-3 cores never
    // closes the gap ($1000 band, sf1: join 44.9 s vs frame 9.6 s). This is
    // the answer: a PREFIX-SUMMED HISTOGRAM with edge-bucket correction.
    //   1. Bucket prices on CENTS (exact BIGINT, q53's trick) at width =
    //      band/K (K = 10 at the default $100 band) and aggregate one
    //      (count, decimal sum) per (status, bucket) — one n-row agg into a
    //      DOMAIN-bound table (price-range/width · statuses rows, n-free).
    //   2. Densify + running-total it per status (a Window over the tiny
    //      histogram, never over the fact), broadcast it, and give every
    //      row its [b0+1, bp−1] full-bucket span with two O(1) broadcast
    //      lookups: prefix(bp−1) − prefix(b0).
    //   3. Only the two EDGE buckets (b0, bp) need per-row membership —
    //      resolved by MERGE, not by pairing (r10; the r7–r9 bucketed
    //      self-join cost n·2w̄/K pair evaluations, occupancy-dependent and
    //      the suite's worst decade ratio at 13.5×): each row drops four
    //      zero-weight MARKER events (price p and p−band, in buckets bp and
    //      b0) into the build-row stream; one Window per (status, bucket)
    //      ordered by (price, kind) running-sums build counts/sums, and a
    //      marker reads off exactly #build ≤ its position. Signed
    //      combination (hi − lo per bucket) is each edge bucket's exact
    //      [p−band, p] membership: n·log(occupancy) total, NO pair term.
    // Work: one 5n-row bucket-partitioned sort + n·O(1) lookups +
    // histogram — occupancy-INSENSITIVE, so no density-adaptive width is
    // needed (the r8–r9 denseN rule existed to tame the pair term).
    // Exactness: bucket arithmetic is integer cents (b0 = bp − K exactly
    // because width divides band) and sums are DECIMAL(18,2) (order-free).
    // Band MEMBERSHIP on the edge buckets uses the frame's own double
    // arithmetic BY CONSTRUCTION: a marker sorts among build rows with the
    // same double comparisons the frame (and the DuckDB oracle) applies —
    // kind ranks (lo 0 < build 1 < hi 2) make `<= p` inclusive and
    // `< p − band` exclusive at equal doubles, so e.g. the frame's
    // exclusion of b=$0.01 from p=$100.01's $100 band (p−band rounds to
    // 0.010000000000005116 > 0.01) falls out of sort order, with no
    // cents-vs-double margin argument on ANY edge row. Interior (full)
    // buckets are safe in cents space: every row there is ≥ 1 whole cent
    // inside [p−band, p] (lower margin w − (cents mod w) ≥ 1 cent, upper
    // margin ≥ 1 cent), and a ≥ 1-cent margin dominates both the half-cent
    // rounding of `round(price·100)` and the sub-nanocent double error of
    // p − band. Oracled with the SAME SQL as q55.
    "q55_scale" -> { (s, d) =>
      val band = s.conf.get("spark.graft.q55.band", "100.0").toDouble
      val bandCents = math.round(band * 100)
      // A band below $0.01 would produce zero-width buckets; a non-whole-
      // cent band (e.g. 0.015) would make the cent arithmetic diverge from
      // the double frame bound. Fail fast.
      require(bandCents > 0 && math.abs(band * 100 - bandCents) < 1e-6,
        s"spark.graft.q55.band must be a positive whole-cent amount, got $band")
      // Bucket width: the merge rewrite (r10) removed the occupancy-
      // dependent pair term, so width no longer needs to track density
      // (the r8–r9 denseN rule and its parquet-count probe are gone).
      // What remains is a weak trade: finer buckets grow the prefix
      // table/broadcast (∝1/width) while wider buckets deepen the
      // per-bucket merge sort (log occupancy) — both gentle. Default:
      // snap to the band divisor nearest $10 in log space (ties → wider);
      // measured r10 sweep at sf10 (BENCHNOTES): $10 25.9 s, $1 22.4 s,
      // $100=K=1 23.4 s — flat within ambient noise, as predicted (the r9
      // pair form was width-critical: 79–150 s on the same corpus). The
      // band itself is always a
      // divisor, so a prime-cent band (e.g. $99.73) snaps to K=1, which
      // the four-marker merge handles exactly (interior empty, both edge
      // buckets fully marker-tested).
      val widthCents = (1L to math.sqrt(bandCents.toDouble).toLong + 1)
        .filter(bandCents % _ == 0)
        .flatMap(i => Seq(i, bandCents / i)).distinct
        .minBy(w => (math.abs(math.log10(w / 1000.0)), -w))
      val kk = bandCents / widthCents
      // Exact FLOOR division for bucketing: `a div b` truncates toward
      // zero, which for negative cents would make bucket 0 span 2w−1
      // cents and break the uniform-width interior-margin argument (and
      // the b0 = bp − K identity). `(a − pmod(a, b)) div b` is floor
      // division in exact integer ops for any sign — prices are positive
      // in this corpus, but the operator must not silently assume it.
      def floorDiv(a: String, b: Long) = s"($a - pmod($a, $b)) div $b"
      // r17: the r16 `Tables.parallelized(orders)` base is REVERTED — it fed
      // four consumers (histogram, markers, build stream, special-row side
      // path) and column pruning pushes a different projection under each
      // round-robin repartition, so no exchange was ever reused: the
      // executed plan gained 4 unreused RoundRobinPartitioning exchanges
      // and the driver measured −22% (VERDICT r16). The heavy work here is
      // already POST-shuffle (the (status, bucket) window spreads across
      // shuffle partitions); the pre-shuffle map work is a scan + explode
      // that parquet row-group splitting parallelizes on any real layout.
      val base = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        // integer cents, not Column./ — DOUBLE division rounding could
        // misplace a value on a bucket edge.
        .withColumn("cents", expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
        .withColumn("bkt", expr(floorDiv("cents", widthCents)))
      // NULL and NaN prices (r8): the frame gives each its PEER GROUP as
      // the frame — nulls sort first, NaN last, both with n_band = #peers
      // in the status and band_total = null (sum of all-null, resp. of
      // CAST(NaN AS DECIMAL) = null; QueriesSpec pins both against the
      // frame). They must also stay OUT of the histogram: a (status, null)
      // bucket would sort FIRST in the running prefix and leak its count
      // into every non-null row's full-bucket span, and NaN is worse —
      // (long)NaN is 0, so round(NaN·100) silently plants NaN rows in the
      // MIDDLE of the cent domain. Route both down a tiny count-join side
      // path instead (status cardinality rows, broadcast), unioned at the
      // end. (±Inf prices saturate the cent cast at ±Long extremes and
      // blow the span past maxPrefixRows — the guard above fails fast.)
      val special = col("o_totalprice").isNull || isnan(col("o_totalprice"))
      val nn = base.filter(!special)
      // (1) domain-bound histogram: one (count, exact sum) per bucket.
      val hist = nn.groupBy(col("o_orderstatus").as("h_status"), col("bkt").as("h_bkt"))
        .agg(count(lit(1)).as("h_cnt"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("h_sum"))
      // (2) densify to [min bkt − K, max bkt] per status (covers every b0
      // and bp−1 lookup), then running totals. The Window here is over the
      // histogram — its row count is domain/width · statuses, independent
      // of n — so the 3-partition serialization the frame suffers on the
      // FACT table is irrelevant here.
      // Belt-and-braces memory guard (d6's raise_error idiom): whatever
      // width was chosen, refuse to densify a prefix table larger than
      // spark.graft.q55.maxPrefixRows per status — fail fast with the fix
      // spelled out rather than OOM a broadcast at scale.
      val maxPrefix = s.conf.get("spark.graft.q55.maxPrefixRows", "2000000").toLong
      val span = hist.groupBy(col("h_status"))
        .agg(min(col("h_bkt")).as("lo"), max(col("h_bkt")).as("hi"))
        .filter(when(col("hi") - col("lo") + lit(kk + 1) > maxPrefix,
          raise_error(format_string(
            "q55_scale: status %s needs %s prefix rows > spark.graft.q55.maxPrefixRows=%s; " +
              "raise the cap or run q55_num_range_frame",
            col("h_status"), col("hi") - col("lo") + lit(kk + 1), lit(maxPrefix)))).isNull)
        .select(col("h_status").as("p_status"),
          explode(expr(s"sequence(lo - $kk, hi)")).as("p_bkt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("p_status")).orderBy(col("p_bkt"))
      val prefix = span
        .join(hist, col("p_status") <=> col("h_status") && col("p_bkt") === col("h_bkt"), "left")
        .select(col("p_status"), col("p_bkt"),
          coalesce(col("h_cnt"), lit(0L)).as("cnt"),
          coalesce(col("h_sum"), lit(BigDecimal(0).bigDecimal).cast("decimal(18,2)")).as("sm"))
        .select(col("p_status"), col("p_bkt"),
          sum(col("cnt")).over(w).as("pref_cnt"), sum(col("sm")).over(w).as("pref_sum"))
        .localCheckpoint(true) // tiny; consumed by two broadcast joins
      // (3) edge buckets by MERGE: each row posts four zero-weight markers
      // — bounds p−band (kind 0, excluded at ties) and p (kind 2, included
      // at ties) in BOTH edge buckets b0 = bp−K and bp — into the build
      // stream (kind 1, cnt 1, sm = price). One (status, bucket) window
      // ordered by (price, kind) running-sums the build weights; a marker's
      // running value is exactly #build rows the frame's own double
      // comparison places at-or-before it. hi − lo per bucket, summed over
      // both buckets, is the edge membership — n·log(occupancy) work with
      // no pair expansion, every (status, bucket) sort group independent.
      // Only six columns ship through the 5n-row exchange: the build
      // weights (cnt 0/1, decimal price) are DERIVED from m_kind /
      // m_price inside the window operator post-shuffle, and `cents` is
      // recomputed from o_totalprice after the per-row aggregate — both
      // would otherwise ride every shuffled row as dead weight (~35% of
      // the row width at this stage, the operator's dominant I/O).
      // r17 (§1.2 don't recompute): the marker stream and the build stream
      // were a UNION of two separate passes over `nn`, so the window
      // exchange was fed by TWO full orders scans (and under the r16
      // repartitioned base, two unreused shuffles). ONE explode now emits
      // all five events per row — four zero-weight markers (bounds p−band
      // kind 0 / p kind 2 in both edge buckets b0 = bp−K and bp) plus the
      // build event (kind 1, weight 1) — so the 5n-row exchange is fed by
      // a single scan at every scale. Build rows null out o_orderkey /
      // o_totalprice exactly as the old union branch did (they are dropped
      // after the window; the nulls keep the exchange slim).
      def mEv(bkt: Column, price: Column, kind: Int) =
        struct(bkt.as("m_bkt"), price.as("m_price"), lit(kind).as("m_kind"))
      val events = nn
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          explode(array(
            mEv(col("bkt") - kk, col("o_totalprice") - lit(band), 0),
            mEv(col("bkt") - kk, col("o_totalprice"), 2),
            mEv(col("bkt"), col("o_totalprice") - lit(band), 0),
            mEv(col("bkt"), col("o_totalprice"), 2),
            mEv(col("bkt"), col("o_totalprice"), 1))).as("m"))
        .select(
          when(col("m.m_kind") === 1, lit(null).cast("long"))
            .otherwise(col("o_orderkey")).as("o_orderkey"),
          col("o_orderstatus"),
          when(col("m.m_kind") === 1, lit(null).cast("double"))
            .otherwise(col("o_totalprice")).as("o_totalprice"),
          col("m.m_bkt").as("m_bkt"), col("m.m_price").as("m_price"),
          col("m.m_kind").as("m_kind"))
      val mw = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderstatus"), col("m_bkt"))
        .orderBy(col("m_price"), col("m_kind"))
      val isBuild = col("m_kind") === 1
      val edges = events
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          col("m_kind"),
          sum(when(isBuild, 1L).otherwise(0L)).over(mw).as("cum_cnt"),
          sum(when(isBuild, col("m_price")).otherwise(lit(null)).cast("decimal(18,2)"))
            .over(mw).as("cum_sm"))
        .filter(col("m_kind") =!= 1)
        .groupBy(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .agg(
          sum(when(col("m_kind") === 2, col("cum_cnt")).otherwise(-col("cum_cnt")))
            .as("e_cnt"),
          sum(when(col("m_kind") === 2, coalesce(col("cum_sm"), lit(0)))
            .otherwise(-coalesce(col("cum_sm"), lit(0))))
            .cast("decimal(18,2)").as("e_sum"))
        .withColumn("cents", expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
      // assemble: edges + (prefix(bp−1) − prefix(b0)); every row matches
      // itself in bp, so the edge join never drops a row.
      val hi = prefix.select(col("p_status").as("hi_status"), col("p_bkt").as("hi_bkt"),
        col("pref_cnt").as("hi_cnt"), col("pref_sum").as("hi_sum"))
      val lo = prefix.select(col("p_status").as("lo_status"), col("p_bkt").as("lo_bkt"),
        col("pref_cnt").as("lo_cnt"), col("pref_sum").as("lo_sum"))
      edges
        .join(broadcast(hi), col("o_orderstatus") <=> col("hi_status") &&
          expr(s"${floorDiv("cents", widthCents)} - 1") === col("hi_bkt"), "left")
        // lo bucket is bp − K derived from the SAME floor division as bp:
        // `(cents - bandCents) div width` would truncate toward zero when
        // a price sits below the band (cents < bandCents), landing one
        // bucket high — `div` is not floor division for negatives.
        .join(broadcast(lo), col("o_orderstatus") <=> col("lo_status") &&
          expr(s"${floorDiv("cents", widthCents)} - $kk") === col("lo_bkt"), "left")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          (col("e_cnt") + coalesce(col("hi_cnt"), lit(0L)) - coalesce(col("lo_cnt"), lit(0L)))
            .as("n_band"),
          (col("e_sum") +
            coalesce(col("hi_sum"), lit(BigDecimal(0).bigDecimal)) -
            coalesce(col("lo_sum"), lit(BigDecimal(0).bigDecimal)))
            .cast("double").as("band_total"))
        .unionByName({
          // nulls and NaNs are SEPARATE peer groups (nulls sort first,
          // NaN last); `g` is a non-null boolean, so === is safe.
          val sp = base.filter(special).withColumn("g", col("o_totalprice").isNull)
          val spCnt = sp.groupBy(col("o_orderstatus").as("nc_status"), col("g").as("nc_g"))
            .agg(count(lit(1)).as("nc"))
          sp.join(broadcast(spCnt),
              col("o_orderstatus") <=> col("nc_status") && col("g") === col("nc_g"))
            .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
              col("nc").as("n_band"), lit(null).cast("double").as("band_total"))
        })
        .orderBy(col("o_orderkey"))
    },

    // TPC-H Q5-shaped flagship: revenue by nation for one region and a
    // date window across SIX tables — the canonical star-join the rest of
    // the q-suite exercises piecewise. Declared fully relationally so
    // Catalyst owns the join order: region/nation/supplier/customer are
    // broadcast dims, the orders date filter pushes into its scan before
    // the fact join, and the l_extendedprice·(1−l_discount) revenue runs
    // in DECIMAL (scale-4 product, order-free sum) for the exact oracle.
    // The only shuffles at any scale are the two fact-key exchanges
    // (lineitem↔orders), with AQE free to pick broadcast for everything
    // else — the plan a 100 TB run wants.
    "q56_tpch5" -> { (s, d) =>
      val revenue = col("l_extendedprice").cast("decimal(18,2)") *
        (lit(BigDecimal(1).bigDecimal).cast("decimal(18,2)") -
          col("l_discount").cast("decimal(18,2)"))
      Tables.customer(s, d)
        .join(Tables.orders(s, d)
            .filter(col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1998-01-01"),
          col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.supplier(s, d),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(Tables.nation(s, d), col("s_nationkey") === col("n_nationkey"))
        .join(Tables.region(s, d).filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_items"), sum(revenue).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },

    // Pure theta join (no equi component ⇒ broadcast nested loop): price
    // neighbors among a small part subset.
    "q17_theta_join" -> { (s, d) =>
      val a = Tables.part(s, d).filter(col("p_partkey") <= 40)
        .select(col("p_partkey").as("pa"), col("p_retailprice").as("price_a"))
      val b = Tables.part(s, d).filter(col("p_partkey") <= 40)
        .select(col("p_partkey").as("pb"), col("p_retailprice").as("price_b"))
      a.join(b, col("pa") < col("pb") &&
          abs(col("price_a") - col("price_b")) < 50.0)
        .select(col("pa"), col("pb"))
        .orderBy(col("pa"), col("pb"))
    },
    // Null-safe equality (<=> / IS NOT DISTINCT FROM).
    "q18_null_safe_eq" -> { (s, d) =>
      val o = Tables.orders(s, d)
        .withColumn("bucket", when(col("o_totalprice") > 400000, col("o_orderstatus")))
      o.groupBy(col("bucket") <=> lit(null), col("bucket"))
        .agg(count(lit(1)).as("n"))
        .toDF("is_null_bucket", "bucket", "n")
        .orderBy(col("is_null_bucket"), col("bucket"))
    },

    // ---- Windows ------------------------------------------------------
    "q22_rank_funcs" -> { (s, d) =>
      val w = Window.partitionBy(col("s_nationkey")).orderBy(col("s_acctbal").desc, col("s_suppkey"))
      Tables.supplier(s, d)
        .select(col("s_nationkey"), col("s_suppkey"),
          rank().over(w).as("rk"),
          dense_rank().over(w).as("drk"),
          ntile(2).over(w).as("half"),
          round(percent_rank().over(w).cast("decimal(18,6)"), 6).cast("double").as("prk"))
        .orderBy(col("s_nationkey"), col("s_suppkey"))
    },
    "q20_topk_per_group" -> { (s, d) =>
      val w = Window.partitionBy(col("s_nationkey"))
        .orderBy(col("s_acctbal").desc, col("s_suppkey"))
      Tables.supplier(s, d)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 2)
        .select(col("s_nationkey"), col("s_suppkey"), col("s_name"), col("rk"))
        .orderBy(col("s_nationkey"), col("rk"), col("s_suppkey"))
    },
    "q21_running_sum" -> { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d)
        .withColumn("running_price", sum(dec(col("o_totalprice"))).over(w).cast("double"))
        .select(col("o_custkey"), col("o_orderkey"), col("running_price"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },

    // ---- Sort / limit -------------------------------------------------
    "q30_topk" -> { (s, d) =>
      Tables.orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select(col("o_orderkey"), col("o_totalprice"))
        .limit(10)
    },

    // ---- Set operations ----------------------------------------------
    "q40_union" -> { (s, d) =>
      val c = Tables.customer(s, d).select(col("c_nationkey").cast("int").as("nk"))
      val su = Tables.supplier(s, d).select(col("s_nationkey").cast("int").as("nk"))
      c.union(su).groupBy(col("nk")).agg(count(lit(1)).as("n")).orderBy(col("nk"))
    },
    "q41_intersect" -> { (s, d) =>
      val c = Tables.customer(s, d).select(col("c_nationkey").cast("int").as("nk"))
      val su = Tables.supplier(s, d).select(col("s_nationkey").cast("int").as("nk"))
      c.intersect(su).orderBy(col("nk"))
    },
    "q42_except" -> { (s, d) =>
      val all = Tables.customer(s, d).select(col("c_custkey").as("k"))
      val active = Tables.orders(s, d).filter(col("o_totalprice") > 300000)
        .select(col("o_custkey").as("k"))
      all.except(active).orderBy(col("k"))
    },
    // Correlated LATERAL subquery (SQL-surface twin of q20's window top-k):
    // per outer row, an ordered+limited dependent subquery. Catalyst
    // decorrelates this — DomainJoin + window rewrite — into the same
    // single-shuffle ranked plan as q20, NOT a per-row re-execution; the
    // LATERAL form is what a SQL-first caller writes, and this entry pins
    // that the decorrelation holds (a per-outer-row nested loop at 100 TB
    // would be quadratic).
    "q43_lateral" -> { (s, d) =>
      Tables.nation(s, d).createOrReplaceTempView("graft_q43_nation")
      Tables.supplier(s, d).createOrReplaceTempView("graft_q43_supplier")
      s.sql("""
        SELECT n.n_name AS nation, t.s_suppkey, t.s_name, t.s_acctbal
        FROM graft_q43_nation n,
        LATERAL (SELECT s_suppkey, s_name, s_acctbal FROM graft_q43_supplier s
                 WHERE s.s_nationkey = n.n_nationkey
                 ORDER BY s_acctbal DESC, s_suppkey LIMIT 2) t
        ORDER BY nation, s_acctbal DESC, s_suppkey""")
    },

    // ---- Mergeable sketches (functions/Sketches.scala) ----------------
    // KMV bottom-k distinct sketch, per group: the SUBLINEAR answer to
    // q2's exact-distinct wall (q2_scale's scaladoc points here). Hashing
    // rides codegen'd xxhash64 on the scan side; the typed aggregate only
    // maintains the bounded bottom-k buffer, so the exchange carries ≤ k
    // longs per partial aggregate — O(partitions·k) shuffle at ANY corpus
    // size, vs the distinct-pair-linear shuffles of q2/q2_scale. Below k
    // distinct values the sketch is lossless and the estimate IS the
    // exact count (the oracle regime at verify SF: ≤14,743 per flag,
    // k = 16,384); above it the (k−1)/θ estimator applies with
    // σ ≈ ndv/√(k−2) ≈ 0.8% — SketchSpec pins both regimes and the
    // partition-layout invariance of the merge.
    "q57_kmv_distinct" -> { (s, d) =>
      val k = s.conf.get("spark.graft.sketch.k", "16384").toInt
      // The null-skipping sketch + when-guarded hash: xxhash64(NULL)
      // returns the seed, which an unguarded sketch would count as one
      // phantom distinct value per null-bearing column — COUNT(DISTINCT)
      // excludes nulls, so must the estimator (r13 audit; q63's
      // KmvSketchOpt pattern).
      val sk = udaf(graft.functions.Sketches.KmvSketchOpt(k))
      Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          when(col("l_partkey").isNotNull, xxhash64(col("l_partkey"))).as("hp"),
          when(col("l_orderkey").isNotNull, xxhash64(col("l_orderkey"))).as("ho"))
        .groupBy(col("l_returnflag"))
        .agg(sk(col("hp")).as("skp"), sk(col("ho")).as("sko"),
          count(lit(1)).as("n_rows"))
        .select(col("l_returnflag"),
          graft.functions.Sketches.kmvNdv(col("skp"), k).as("n_parts_est"),
          graft.functions.Sketches.kmvNdv(col("sko"), k).as("n_orders_est"),
          col("n_rows"))
        .orderBy(col("l_returnflag"))
    },
    // Set-operation cardinalities FROM the sketches alone: per-type
    // distinct-user sketches (|types| rows of ≤ k longs) pairwise-composed
    // with array ops into |A∪B| / |A∩B| / Jaccard — no second corpus pass,
    // no pair shuffle. This is d16's scale story without its DF-cap: at
    // 100 TB the corpus collapses once into |groups| bounded summaries and
    // every overlap question after that is O(k) driver-sized math. Exact
    // below saturation (sub-k regime = the oracle regime; the estimators'
    // exact-branch returns integer counts bit-identical to DuckDB's
    // count(distinct)).
    //
    // BOUNDARY (the honest-limit convention): the pair MATRIX itself is
    // |groups|² — independent of corpus size, but not of group
    // cardinality. The sketch pass removed the corpus from the quadratic
    // term, not the quadratic term itself: at |groups| = 10³ the matrix
    // is ~5·10⁵ O(k) comparisons (fine); at 10⁵ groups it is 5·10⁹ —
    // there, rank groups first (top-N by sketch NDV, one sort of
    // |groups| rows) or bucket the sketch table and emit per-bucket
    // top-k overlaps instead of the full matrix. Same applies to
    // d16_scale, which shares this shape.
    "q58_kmv_set_ops" -> { (s, d) =>
      val k = s.conf.get("spark.graft.sketch.k", "16384").toInt
      val sk = udaf(graft.functions.Sketches.KmvSketch(k))
      val sketches = Tables.events(s, d)
        .filter(col("user_id").isNotNull)
        .select(col("event_type"), xxhash64(col("user_id")).as("h"))
        .groupBy(col("event_type"))
        .agg(sk(col("h")).as("sk"))
        // |types| rows of ≤ k longs; checkpoint so the pair self-join does
        // not re-scan and re-sketch the events corpus twice (e26's rule).
        .localCheckpoint(true)
      val pairs = sketches.toDF("type_a", "sk_a")
        .join(sketches.toDF("type_b", "sk_b"), col("type_a") < col("type_b"))
      // r16: fused pair-stats kernel (d16_scale's rationale — one merge
      // pass per pair instead of rebuilding the union sketch per output
      // column, twice under the orderBy's range sampling). Bit-identical
      // doubles; SketchSpec pins fused == composed.
      pairs.select(col("type_a"), col("type_b"),
          graft.functions.Sketches.kmvPairStats(col("sk_a"), col("sk_b"), k).as("st"))
        .select(col("type_a"), col("type_b"),
          col("st.union_ndv").as("union_ndv"), col("st.inter_ndv").as("inter_ndv"))
        .withColumn("jaccard", col("inter_ndv") / col("union_ndv"))
        .orderBy(col("type_a"), col("type_b"))
    },
    // Misra–Gries/Space-Saving heavy hitters, per group: exact per-group
    // top-k needs every (group, key) pair shuffled (t8's shape); the
    // mergeable frequency summary caps the exchange at 2·cap entries per
    // partial with the classic guarantee — any key with true share >
    // 1/cap survives, counts underestimate by ≤ err ≤ n/cap. Below cap
    // distinct keys per group it never evicts: err = 0, counts exact —
    // the oracle regime (2,000 parts per flag at verify SF, cap 4,096).
    "q59_heavy_hitters" -> { (s, d) =>
      val cap = s.conf.get("spark.graft.sketch.topkCap", "4096").toInt
      val hh = udaf(graft.functions.Sketches.SpaceSavingTopK(cap))
      Tables.lineitem(s, d)
        .filter(col("l_partkey").isNotNull)
        .groupBy(col("l_returnflag"))
        .agg(hh(col("l_partkey")).as("hh"))
        .select(col("l_returnflag"), posexplode(slice(col("hh"), 1, 5)))
        .select(col("l_returnflag"), (col("pos") + 1).cast("long").as("rk"),
          col("col.key").as("l_partkey"), col("col.cnt").as("cnt"),
          col("col.err").as("err"))
        .orderBy(col("l_returnflag"), col("rk"))
    },
    // MRL/KLL quantile sketch, per group: the THIRD member of the
    // percentile family and the one that closes its scale matrix. q7
    // (builtin) buffers a value→count map per aggregation buffer — the
    // suite's one OOM anchor at sf10; q7_scale is exact and domain-bound
    // but REQUIRES a bounded integral domain for its counts table; this
    // sketch is bounded-memory (~cap·log₂(n/cap) values per buffer, the
    // exchange carries summaries, never rows) on ANY value domain,
    // continuous included. Below cap rows per group the summary is the
    // full multiset and pctFromSketch replicates Percentile.getPercentile
    // bit-for-bit — the oracle regime at verify SF (≈20k rows per flag,
    // cap 65,536; SketchSpec pins the headroom and the saturated error
    // bound). Same surface as q7 so the oracle SQL is q7's verbatim.
    "q60_pct_sketch" -> { (s, d) =>
      val cap = s.conf.get("spark.graft.sketch.pctCap", "65536").toInt
      val pc = udaf(graft.functions.Sketches.PctSketch(cap))
      // No null filter: the aggregate itself skips null VALUES per column
      // (boxed input), matching the builtin's per-column null-ignoring
      // semantics and the filter-free oracle — a joint query-layer filter
      // would drop a row from BOTH sketches when only one column is null
      // and lose all-null groups entirely (the r8 q7_scale bug class).
      Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          col("l_partkey").cast("double").as("vp"),
          col("l_linenumber").cast("double").as("vl"))
        .groupBy(col("l_returnflag"))
        .agg(pc(col("vp")).as("skp"), pc(col("vl")).as("skl"))
        .select(col("l_returnflag"),
          graft.functions.Sketches.pctCol(col("skp"), 0.5).as("p50"),
          graft.functions.Sketches.pctCol(col("skp"), 0.9).as("p90"),
          graft.functions.Sketches.pctCol(col("skl"), 0.25).as("q1_line"))
        .orderBy(col("l_returnflag"))
    },
    // WEIGHTED quantiles from the same compactor (PctSketchWeighted):
    // quantity-weighted price percentiles per flag — the "median doc
    // length weighted by token count" shape every mixture report needs,
    // computed WITHOUT materializing the repeats (weights decompose into
    // binary powers, each entering the compactor at its own level; a
    // replicated multiset of Σw rows never exists anywhere). No engine
    // has a built-in weighted interpolated quantile, so the oracle SQL
    // states the estimator's own arithmetic over a cumulative-weight
    // window — exact below cap ROWS per group (each level holds at most
    // one piece per row), so the hash gate applies at verify SF.
    "q61_weighted_pct" -> { (s, d) =>
      val cap = s.conf.get("spark.graft.sketch.pctCap", "65536").toInt
      val pc = udaf(graft.functions.Sketches.PctSketchWeighted(cap))
      Tables.lineitem(s, d)
        .filter(col("l_extendedprice").isNotNull && col("l_quantity").isNotNull)
        .select(col("l_returnflag"),
          col("l_extendedprice").cast("double").as("v"),
          col("l_quantity").cast("long").as("w"))
        .groupBy(col("l_returnflag"))
        .agg(pc(col("v"), col("w")).as("sk"))
        .select(col("l_returnflag"),
          graft.functions.Sketches.pctCol(col("sk"), 0.5).as("wp50"),
          graft.functions.Sketches.pctCol(col("sk"), 0.9).as("wp90"))
        .orderBy(col("l_returnflag"))
    },
    // Blocked fuzzy entity matching (record linkage) — the classic ER
    // pipeline: a cheap BLOCKING key bounds the candidate space, then an
    // edit-distance rule decides matches within each block. Blocking key =
    // (nation, market segment, name minus its last 3 characters): block
    // cardinality is bounded by construction (≤10³ name variants share a
    // prefix) independent of corpus size, so pair volume grows LINEARLY
    // with the table — never the quadratic all-pairs wall. Match rule:
    // same nation + segment, levenshtein(name_a, name_b) ≤ 1.
    // Cross-engine contract: Spark's levenshtein counts CODEPOINT edits,
    // DuckDB's counts BYTE edits — they agree exactly on ASCII, so the
    // fuzzy rule is DEFINED on printable-ASCII names only (the rlike
    // guard, mirrored oracle-side); non-ASCII names are out of the fuzzy
    // domain and belong to the exact-match path (d1). Spark side uses the
    // 3-arg levenshtein(l, r, 1): it abandons each DP row early once the
    // bound is exceeded — O(len) per pair instead of O(len²) — and
    // returns the exact distance iff ≤ 1 (else −1, filtered).
    // Scale shape: one self-equi-join shuffle on the compound block key;
    // block sizes are capped so no task sees a quadratic blob; at 100 TB
    // the plan is exchange + sort-merge (or shuffled-hash) on the block
    // key with per-block pair expansion bounded by the key design.
    "q66_entity_match" -> { (s, d) =>
      val base = Tables.customer(s, d)
        .filter(col("c_custkey").isNotNull && col("c_name").isNotNull &&
          col("c_name").rlike("^[\\x20-\\x7E]*$"))
        .withColumn("blk",
          expr("substring(c_name, 1, greatest(length(c_name) - 3, 0))"))
      val a = base.select(col("c_custkey").as("a_custkey"), col("c_name").as("a_name"),
        col("c_nationkey").as("nk"), col("c_mktsegment").as("segment"), col("blk"))
      val b = base.select(col("c_custkey").as("b_custkey"), col("c_name").as("b_name"),
        col("c_nationkey").as("b_nk"), col("c_mktsegment").as("b_seg"), col("blk").as("b_blk"))
      a.join(b,
          col("nk") === col("b_nk") && col("segment") === col("b_seg") &&
            col("blk") === col("b_blk") && col("a_custkey") < col("b_custkey"))
        .withColumn("dist", levenshtein(col("a_name"), col("b_name"), 1).cast("bigint"))
        .filter(col("dist") >= 0)
        .select(col("a_custkey"), col("b_custkey"), col("a_name"), col("b_name"),
          col("dist"), col("segment"))
        .orderBy(col("a_custkey"), col("b_custkey"))
    },
    // Join-cardinality estimation from a key-domain sample — the planner
    // primitive behind join reordering and broadcast decisions at 100 TB
    // (q63's ANALYZE sibling for the JOIN column): |A ⋈ B| = Σ_k f_A(k)·
    // f_B(k), estimated by summing only keys whose md5 falls in a 1/16
    // slice of hash space and scaling by 16. Sampling the key DOMAIN (not
    // rows) keeps both sides' frequencies exact for every admitted key,
    // so the estimator is unbiased for any skew; md5 admit is the t10
    // convention — same verdict per key on every run, engine, executor
    // count. Two join shapes audited: the PK-FK orders⋈lineitem and the
    // M:N events self-join on user_id (Σ f² — the F2 moment where sampled
    // JOINS go quadratically wrong but sampled DOMAINS stay unbiased).
    // The exact twin rides the SAME per-key aggregate — join size is
    // computed from two frequency tables joined on sampled keys, never by
    // materializing join rows. At 100 TB you keep only the estimate path,
    // where the admit filter pushes below the groupBy (hash-of-key
    // filters commute with per-key counting) and the scan aggregates
    // 1/16th of the key space; the exact column here is the in-engine
    // acceptance audit (s12's pattern: ship the estimator WITH its error).
    "q67_join_size_est" -> { (s, d) =>
      val RATE = 16L
      val h32 = (k: Column) =>
        conv(substring(md5(k.cast("string").cast("binary")), 1, 8), 16, 10).cast("long")
      def freq(df: DataFrame, key: String): DataFrame =
        df.filter(col(key).isNotNull)
          .groupBy(col(key).as("k")).agg(count(lit(1)).as("f"))
          .withColumn("adm", h32(col("k")) % RATE === 0L)
      val lf = freq(Tables.lineitem(s, d), "l_orderkey")
      val of = freq(Tables.orders(s, d), "o_orderkey")
      val ef = freq(Tables.events(s, d), "user_id")
      def shape(agg: DataFrame, name: String): DataFrame =
        agg.select(lit(name).as("join_id"),
          (coalesce(col("samp"), lit(0L)) * RATE).cast("double").as("est_rows"),
          coalesce(col("exact"), lit(0L)).as("exact_rows"))
      val ol = shape(
        of.as("o").join(lf.as("l"), col("o.k") === col("l.k"))
          .agg(sum(col("o.f") * col("l.f")).as("exact"),
            sum(when(col("o.adm"), col("o.f") * col("l.f"))).as("samp")),
        "orders_lineitem")
      val ee = shape(
        ef.agg(sum(col("f") * col("f")).as("exact"),
          sum(when(col("adm"), col("f") * col("f"))).as("samp")),
        "events_self")
      ol.unionAll(ee)
        .withColumn("rel_err", when(col("exact_rows") > 0L,
          abs(col("est_rows") - col("exact_rows").cast("double")) /
            col("exact_rows").cast("double")))
        .orderBy(col("join_id"))
    },
    // q67's sibling: q67 answers "how BIG is the join", q68 answers
    // "WHICH keys make it big" — the salting decision (q54) as a
    // driver-visible report. Per join: the top-10 keys by output
    // contribution f_left·f_right with exact ppm share of the total.
    // Arithmetic rides DECIMAL(38,0) end-to-end (a 100 TB key can carry
    // f≈1e10 per side ⇒ products past BIGINT; exact integer ppm via DIV —
    // no float division, so the share is bit-identical cross-engine; the
    // emitted `pairs` column SATURATES at Long.MaxValue before the BIGINT
    // cast — past 9.2e18 Spark's non-ANSI cast would go NULL while
    // DuckDB's raises, so the clamp is the one behavior both engines can
    // state; ranking and share_ppm use the unclamped decimal, so
    // saturation never reorders the report).
    // Scale shape: joins see per-key AGGREGATES, never rows (q67's
    // contract); the global top-10 is a TakeOrderedAndProject heap — each
    // map task forwards ≤10 candidate rows; the total and the top-10 both
    // consume the counts join, whose input shuffles are deduplicated by
    // ReusedExchange (see the measured checkpoint-vs-reuse note below).
    "q68_skew_topkeys" -> { (s, d) =>
      def freq(df: DataFrame, key: String): DataFrame =
        df.filter(col(key).isNotNull)
          .groupBy(col(key).as("join_key")).agg(count(lit(1)).as("f"))
      skewReport(
        freq(Tables.orders(s, d), "o_orderkey"),
        freq(Tables.lineitem(s, d), "l_orderkey"),
        freq(Tables.events(s, d), "user_id"))
    },
    // q68's SUBLINEAR twin — the skew report without the corpus-keyed
    // counts table (q68's 11.0×/decade at sf100, the suite's worst ratio):
    // each side collapses in ONE pass into a Misra–Gries frequency summary
    // (q59's topk_freq — mergeable partials, the exchange carries ≤ 2·cap
    // entries per task, never keys), and everything after — the survivor
    // join, the pair products, the total, the top-10 — is O(cap) math on
    // summary rows. Below `spark.graft.sketch.skewCap` distinct keys per
    // side (65,536 default ≫ the 15k gate-corpus keys; raise with the
    // ci.sh sf1 conf line) the summary IS the exact frequency table, so
    // q68's oracle SQL applies verbatim — the q57/q59 lossless-below-
    // capacity convention. Above cap, the MG guarantee governs: any key
    // with per-side share > 1/cap survives both summaries, its f sits in
    // [true − n/cap, true], and the survivor-mass total makes share_ppm an
    // upper bound on the true share — the report stays a correct
    // SALTING-DECISION input (q54's consumer needs the heavy keys, not
    // the long tail) at any corpus size, with memory fixed by cap.
    "q68_scale" -> { (s, d) =>
      val cap = s.conf.get("spark.graft.sketch.skewCap", "65536").toInt
      val hh = udaf(graft.functions.Sketches.SpaceSavingTopK(cap))
      def sketchFreq(df: DataFrame, key: String): DataFrame =
        df.filter(col(key).isNotNull)
          .agg(hh(col(key)).as("hh"))
          .select(explode(col("hh")).as("e"))
          .select(col("e.key").as("join_key"), col("e.cnt").as("f"))
      skewReport(
        sketchFreq(Tables.orders(s, d), "o_orderkey"),
        sketchFreq(Tables.lineitem(s, d), "l_orderkey"),
        sketchFreq(Tables.events(s, d), "user_id"))
    },
    // Incremental view maintenance of a JOIN view — e32 proved the
    // grouped-aggregate delta algebra; this proves the BILINEAR one. The
    // maintained view is the order-ledger rollup
    //   V = Γ[c_nationkey, o_orderstatus](orders ⋈ customer)
    // and the engine never evaluates new⋈new: with yesterday's snapshots
    // O, C and today's increments ΔO, ΔC,
    //   (O ∪ ΔO) ⋈ (C ∪ ΔC)  =  O⋈C  ⊎  ΔO⋈(C ∪ ΔC)  ⊎  O⋈ΔC
    // — the asymmetric factorization of the bilinear expansion (the ΔO⋈ΔC
    // cross term rides the first delta join, so maintenance is TWO delta
    // joins, not three). The base term is yesterday's PERSISTED aggregate
    // (q65's vintage pattern — at 100 TB it is a |groups|-row table read,
    // not a fact join; here the vintage is materialized in the same job),
    // and each delta join BROADCASTS its increment side against ONE scan
    // of the opposing snapshot, so a day's maintenance never shuffles a
    // fact table — vs the full o_custkey exchange the recompute pays. The
    // split points are engine-internal (the last 1/16 of the o_orderdate
    // range; custkeys past 15/16 of the key span — the hostile 90M
    // customer block lands in ΔC by construction, so the audit corpus
    // exercises a delta whose groups are absent from the base): the
    // ORACLE recomputes V from the whole tables and never sees them, so
    // hash equality certifies the factorization for an arbitrary
    // two-sided split. Merge is a union of three |groups|-sized aggregate
    // tables re-aggregated — group nulls (hostile null-nation customers)
    // are one group under groupBy on both engines, no join needed. Money
    // rides e24's finite-cents BIGINT guard, and e32's SUM/NULL contract:
    // maintained n_vals distinguishes "cents summed to 0" from "no
    // non-null prices" (sum emitted only when n_vals > 0). Increments are
    // insert-only — the retraction algebra is e32/CdcRetractProcessor's;
    // composing the two (signed delta joins) is mechanical because every
    // merged metric here is already a signed sum.
    "q69_ivm_join" -> { (s, d) =>
      val price = col("o_totalprice")
      val cents = when(!isnan(price) && abs(price) =!= lit(Double.PositiveInfinity),
        round(price * 100).cast("bigint"))
      val ord0 = Tables.orders(s, d)
        .filter(col("o_custkey").isNotNull)
        .select(col("o_custkey"), col("o_orderstatus"), cents.as("cents"),
          // o_orderdate is TIMESTAMP_NTZ; the session tz is pinned UTC, so
          // this cast is a deterministic epoch-micros view of the date.
          unix_micros(col("o_orderdate").cast("timestamp")).as("t"))
      val cust0 = Tables.customer(s, d)
        .filter(col("c_custkey").isNotNull)
        .select(col("c_custkey"), col("c_nationkey"))
      val ob = ord0.agg(min(col("t")).as("olo"), max(col("t")).as("ohi"))
      val cb = cust0.agg(min(col("c_custkey")).as("clo"), max(col("c_custkey")).as("chi"))
      // Null-date orders are base (e32's null-ts-is-pre rule). Checkpoint:
      // each narrow projection feeds two join branches (d9's union lesson);
      // at 100 TB the base branch is the persisted vintage instead.
      val ord = ord0.crossJoin(broadcast(ob))
        .withColumn("pre",
          col("t").isNull || col("t") <= expr("olo + ((ohi - olo) DIV 16) * 15"))
        .localCheckpoint(true)
      val cust = cust0.crossJoin(broadcast(cb))
        .withColumn("pre", col("c_custkey") <= expr("clo + ((chi - clo) DIV 16) * 15"))
        .localCheckpoint(true)
      def viewAgg(df: DataFrame): DataFrame =
        df.groupBy(col("c_nationkey"), col("o_orderstatus"))
          .agg(count(lit(1)).as("n_p"), count(col("cents")).as("v_p"),
            sum(col("cents")).as("s_p"))
      // The base join is planner-chosen (broadcast at gate SF, SMJ at
      // scale): at 100 TB it is not executed at all — the base term is the
      // persisted |groups|-row vintage — so forcing a broadcast of 15/16
      // of the customer table here would encode the wrong assumption. The
      // DELTA hints below are the IVM contract: increments are bounded.
      val base = viewAgg(ord.filter(col("pre"))
        .join(cust.filter(col("pre")), col("o_custkey") === col("c_custkey")))
      val dOrd = viewAgg(cust
        .join(broadcast(ord.filter(!col("pre"))), col("o_custkey") === col("c_custkey")))
      val dCust = viewAgg(ord.filter(col("pre"))
        .join(broadcast(cust.filter(!col("pre"))), col("o_custkey") === col("c_custkey")))
      base.unionAll(dOrd).unionAll(dCust)
        .groupBy(col("c_nationkey"), col("o_orderstatus"))
        .agg(sum(col("n_p")).cast("bigint").as("n_orders"),
          sum(col("v_p")).cast("bigint").as("n_vals"),
          when(sum(col("v_p")) > 0, sum(col("s_p"))).cast("bigint").as("sum_cents"))
        .orderBy(col("c_nationkey"), col("o_orderstatus"))
    },
    // q69's PRODUCTION READ PATH + signed retractions. q69 proves the
    // bilinear factorization with the vintage materialized in the same
    // job; here the base term is what it is at 100 TB: yesterday's
    // |groups|-row aggregate PERSISTED to parquet (provision-on-first-use
    // with the shingle-table freshness protocol — corpus tag + source
    // fingerprint, so a regenerated corpus re-vintages) and read back as
    // a bare scan — the final plan's ONLY parquet scan; no fact table is
    // joined in the base branch (PlanSpec pins both). The delta algebra
    // is extended to SIGNED deltas by composing CdcRetractProcessor's
    // semantics: yesterday's snapshot O₁ contains a CORRUPT PHANTOM shard
    // P — a deterministic subset of pre-orders that a bad ingest wrote
    // with a sentinel o_orderstatus 'X' outside the domain, so P's groups
    // exist ONLY through the corruption — and today's maintenance both
    // inserts ΔO⁺ and RETRACTS P with weight −1:
    //   (O₁ + ΔO⁺ − P) ⋈ (C₁ + ΔC)
    //     = O₁⋈C₁  ⊎  ΔO⁺⋈(C₁∪ΔC)  ⊎  (−1)·P⋈(C₁∪ΔC)  ⊎  O₁⋈ΔC
    // — three delta joins, each broadcasting its bounded increment side
    // (ΔO⁺, P, ΔC) against ONE scan of the opposing snapshot; the fact
    // tables never shuffle and never appear under the base term. Every
    // maintained metric is a signed sum (n_p/v_p/s_p × ±1), merge is
    // re-aggregation of four |groups|-row tables, and the (·, 'X') groups
    // net to EXACT zero across three different joins
    // (P⋈C₁ + P⋈ΔC − P⋈(C₁∪ΔC)) — the n_orders > 0 drop is load-bearing:
    // a group alive only through retracted rows must VANISH, not survive
    // as a zero row. e32's SUM/NULL contract survives signing because
    // v_net > 0 still separates "cents summed to 0" from "no non-null
    // prices". The oracle is q69's full recompute VERBATIM — it never
    // sees the split, the phantom shard, or the retraction, so hash
    // equality certifies the signed algebra end-to-end (on the
    // adversarial corpus this includes retraction-adjacent hostile
    // groups: the 90M customer block lands in ΔC, null nations
    // group-merge, non-finite prices ride the cents guard).
    "q69_scale" -> { (s, d) =>
      val price = col("o_totalprice")
      val cents = when(!isnan(price) && abs(price) =!= lit(Double.PositiveInfinity),
        round(price * 100).cast("bigint"))
      val ord0 = Tables.orders(s, d)
        .filter(col("o_custkey").isNotNull)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          cents.as("cents"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("t"))
      val cust0 = Tables.customer(s, d)
        .filter(col("c_custkey").isNotNull)
        .select(col("c_custkey"), col("c_nationkey"))
      def viewAgg(df: DataFrame, sign: Int): DataFrame =
        df.groupBy(col("c_nationkey"), col("o_orderstatus"))
          .agg((count(lit(1)) * sign).as("n_p"),
            (count(col("cents")) * sign).as("v_p"),
            (sum(col("cents")) * sign).as("s_p"))
      // The persisted vintage root (r16 — the warm path now IS the pinned
      // shape): ONE provision-once directory holding
      //   orders/  — the orders projection PARTITIONED BY vday, 16 range
      //              buckets of the o_orderdate span (s20's cell-partition
      //              idiom on the time axis): vday 0–14 = yesterday's
      //              snapshot days, vday 15 = today's delta. The physical
      //              layout IS the time index — the warm branches prune
      //              partitions at the scan (PlanSpec pins the
      //              PartitionFilters), exactly what a daily-append
      //              ingest layout gives a production cluster for free.
      //   phantom/ — the corrupt shard P (pre-orders with key ≡ 0 mod 7,
      //              sentinel status 'X'), identified and STORED at
      //              vintage time: a retraction feed is data you have,
      //              not something a warm pass re-derives from the fact.
      //   base/    — viewAgg(O₁ ⋈ C₁), the |groups|-row aggregate.
      // and, as the layout's state in its marker, the customer-key cutoff
      // literal, so the warm pass derives ΔC as a pushed parquet filter
      // with no bounds re-scan, no job and no drift from provisioning time.
      // A warm maintenance pass therefore touches: the base scan, the
      // vday=15 partition, the phantom table, the vday<15 partitions
      // (the unavoidable O₁⋈ΔC term), and the customer table — no
      // localCheckpoint, no full-fact materialization, no fact shuffle.
      // Version ivm4 keys freshness on this CONSTRUCTION (split points,
      // phantom-shard rule, layout scheme, cutoff in the marker): bump it
      // if the engine-internal split ever changes.
      val vintage = Tables.derivedLayout(s, s.conf.get("spark.sql.warehouse.dir"),
          "ivm_vintage", d, Seq("orders", "customer"), "ivm4") { vPath =>
        // Bounds: two narrow stats aggregates, collected once (the
        // bounded-collect class — 1 row each). Degenerate spans (all-null
        // dates, empty/singleton domains) fall back to "everything is
        // pre, delta empty" via step=1 / cut=MaxValue.
        val obr = ord0.agg(min(col("t")), max(col("t"))).collect()(0)
        val cbr = cust0.agg(min(col("c_custkey")), max(col("c_custkey"))).collect()(0)
        val (olo, step) =
          if (obr.isNullAt(0)) (0L, 1L)
          else (obr.getLong(0), math.max(1L, (obr.getLong(1) - obr.getLong(0)) / 16L))
        val ccut =
          if (cbr.isNullAt(0)) Long.MaxValue
          else cbr.getLong(0) + ((cbr.getLong(1) - cbr.getLong(0)) / 16L) * 15L
        // vday = least(15, (t − olo) div step); null dates are day 0
        // (e32's null-ts-is-pre rule). pre ⟺ vday < 15 ⟺ t < olo+15·step
        // — the strict form makes partition membership and the split
        // predicate IDENTICAL by construction (no boundary drift).
        ord0.withColumn("vday",
            when(col("t").isNull, lit(0))
              .otherwise(least(lit(15L), expr(s"(t - ${olo}L) DIV ${step}L"))
                .cast("int")))
          .write.mode("overwrite").partitionBy("vday")
          .parquet(s"$vPath/orders")
        val lay = s.read.parquet(s"$vPath/orders")
        // The phantom shard P: the corrupt ingest wrote these rows with a
        // sentinel status outside the {O,F,P} domain, so its groups exist
        // in YESTERDAY'S snapshot only — today's retraction must erase
        // them without a trace. Null keys stay out (pmod(NULL) → NULL →
        // filter false). (If a hostile corpus ever carries a real 'X'
        // status the algebra still nets the phantom multiset exactly.)
        lay.filter(col("vday") < 15 && pmod(col("o_orderkey"), lit(7L)) === 0)
          .select(col("o_custkey"), lit("X").as("o_orderstatus"), col("cents"))
          .write.mode("overwrite").parquet(s"$vPath/phantom")
        val o1p = lay.filter(col("vday") < 15)
          .select(col("o_custkey"), col("o_orderstatus"), col("cents"))
          .unionAll(s.read.parquet(s"$vPath/phantom"))
        viewAgg(o1p.join(cust0.filter(col("c_custkey") <= ccut),
            col("o_custkey") === col("c_custkey")), 1)
          .write.mode("overwrite").parquet(s"$vPath/base")
        ccut.toString
      }
      // ---- the warm maintenance pass: pruned scans + bounded broadcasts.
      val ccut = vintage.state.toLong
      def layer(p: String) = Tables.parquet(s, s"${vintage.dir}/$p")
      val base = layer("base")
      val ocols = Seq(col("o_custkey"), col("o_orderstatus"), col("cents"))
      val dO = layer("orders").filter(col("vday") === 15)
        .select(ocols: _*)
      val phantom = layer("phantom")
      val o1 = layer("orders").filter(col("vday") < 15)
        .select(ocols: _*).unionAll(phantom)
      val dCustSide = cust0.filter(col("c_custkey") > ccut)
      val dOrd = viewAgg(cust0
        .join(broadcast(dO), col("o_custkey") === col("c_custkey")), 1)
      val retract = viewAgg(cust0
        .join(broadcast(phantom), col("o_custkey") === col("c_custkey")), -1)
      val dCust = viewAgg(o1
        .join(broadcast(dCustSide), col("o_custkey") === col("c_custkey")), 1)
      base.unionByName(dOrd).unionByName(retract).unionByName(dCust)
        .groupBy(col("c_nationkey"), col("o_orderstatus"))
        .agg(sum(col("n_p")).cast("bigint").as("n_orders"),
          sum(col("v_p")).cast("bigint").as("n_vals"),
          when(sum(col("v_p")) > 0, sum(col("s_p"))).cast("bigint").as("sum_cents"))
        // Retraction semantics: a group whose rows all netted away must
        // not survive with a zero row — the recompute never saw it.
        .filter(col("n_orders") > 0)
        .orderBy(col("c_nationkey"), col("o_orderstatus"))
    },
    // Data-quality expectation suite — the constraint audit a pipeline
    // runs BEFORE a corpus vintage is admitted (t29's governance gate
    // generalized from privacy to integrity; the Deequ/expectations shape
    // as a driver-visible table). Eight checks over four tables, one row
    // each: violations, total, exact integer-ppm violation rate (d19's
    // idiom — no float division anywhere), the check's declared
    // threshold, and a pass flag. Completeness/uniqueness/domain/range
    // checks on the same table share ONE scan via the e32 explode idiom:
    // a single multi-count aggregate fans out to its check rows, so four
    // tables cost four scans. Referential checks (orders→customer,
    // lineitem→orders) are a LEFT join against the DISTINCT parent key
    // set with a missing-parent count folded into the same pass — no
    // hint, the planner broadcasts the key set while it fits and falls
    // back to a key-only shuffle join when the parent is itself a fact
    // (lineitem→orders at 100 TB). Zero-denominator guard everywhere
    // (ANSI x/0 is fatal; an empty table passes vacuously). The clean
    // corpus passes all eight; the adversarial corpus trips the domain,
    // range, and referential checks while the null-rate checks stay
    // under threshold — both semantic branches occur on the audit gates.
    "q70_expectations" -> { (s, d) =>
      // coalesce: a SUM-counted violation over an EMPTY table is NULL on
      // both engines — the vacuous pass must read 0 violations, not NULL.
      def pack(id: String, tbl: String, v: Column, tot: Column, thr: Long): Column =
        struct(lit(id).as("check_id"), lit(tbl).as("tbl"),
          coalesce(v.cast("bigint"), lit(0L)).as("violations"),
          tot.cast("bigint").as("total"),
          lit(thr).as("thr_ppm"))
      val cust = Tables.customer(s, d)
        .agg(count(lit(1)).as("n"), count(col("c_custkey")).as("nk"),
          countDistinct(col("c_custkey")).as("ndv"))
        .select(explode(array(
          pack("c_custkey_not_null", "customer", col("n") - col("nk"), col("n"), 1000L),
          pack("c_custkey_unique", "customer", col("nk") - col("ndv"), col("nk"), 0L)))
          .as("c"))
      val fin = (c: Column) => !isnan(c) && abs(c) =!= lit(Double.PositiveInfinity)
      val ord = Tables.orders(s, d)
        .agg(count(col("o_orderstatus")).as("ns"),
          sum(when(col("o_orderstatus").isNotNull &&
            !col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L)).as("bad_s"),
          count(col("o_totalprice")).as("np"),
          sum(when(col("o_totalprice").isNotNull &&
            (!fin(col("o_totalprice")) || col("o_totalprice") < 0), 1L)
            .otherwise(0L)).as("bad_p"))
        .select(explode(array(
          pack("o_status_domain", "orders", col("bad_s"), col("ns"), 0L),
          pack("o_price_valid", "orders", col("bad_p"), col("np"), 0L))).as("c"))
      val ev = Tables.events(s, d)
        .agg(count(lit(1)).as("n"), count(col("user_id")).as("nu"))
        .select(explode(array(
          pack("e_user_not_null", "events", col("n") - col("nu"), col("n"), 1000L)))
          .as("c"))
      val li = Tables.lineitem(s, d)
        .agg(count(col("l_quantity")).as("nq"),
          sum(when(col("l_quantity").isNotNull && col("l_quantity") <= 0, 1L)
            .otherwise(0L)).as("bad_q"))
        .select(explode(array(
          pack("l_qty_positive", "lineitem", col("bad_q"), col("nq"), 0L))).as("c"))
      def ref(id: String, tbl: String, child: DataFrame, fk: String,
          parentKeys: DataFrame, pk: String): DataFrame =
        child.filter(col(fk).isNotNull).select(col(fk))
          .join(parentKeys.filter(col(pk).isNotNull).select(col(pk)).distinct()
            .withColumn("hit", lit(1)), col(fk) === col(pk), "left")
          .agg(count(lit(1)).as("tot"),
            sum(when(col("hit").isNull, 1L).otherwise(0L)).as("v"))
          .select(pack(id, tbl, col("v"), col("tot"), 0L).as("c"))
      val refO = ref("o_custkey_ref", "orders", Tables.orders(s, d), "o_custkey",
        Tables.customer(s, d), "c_custkey")
      val refL = ref("l_orderkey_ref", "lineitem", Tables.lineitem(s, d), "l_orderkey",
        Tables.orders(s, d), "o_orderkey")
      cust.unionAll(ord).unionAll(ev).unionAll(li).unionAll(refO).unionAll(refL)
        .select(col("c.*"))
        .withColumn("ppm", when(col("total") > 0,
          expr("CAST((violations * 1000000) DIV total AS BIGINT)")))
        .withColumn("pass",
          when(col("total") === 0 || coalesce(col("ppm"), lit(0L)) <= col("thr_ppm"), 1)
            .otherwise(0).cast("int"))
        .orderBy(col("check_id"))
    }
  )

  /** q68/q68_scale's shared report body over per-key frequency tables
    * `(join_key BIGINT, f BIGINT)` — shared code so the exact and sketch
    * forms can never drift (the shardAgg pattern). See q68's entry for the
    * DECIMAL/saturation and checkpoint-vs-reuse rationale. */
  private def skewReport(of: DataFrame, lf: DataFrame, ef: DataFrame): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(19,0)")
    val ol = of.as("o").join(lf.as("l"), Seq("join_key"))
      .select(col("join_key"), col("o.f").as("f_left"), col("l.f").as("f_right"),
        (dec(col("o.f")) * dec(col("l.f"))).as("pairs_dec"))
    val ee = ef.select(col("join_key"), col("f").as("f_left"), col("f").as("f_right"),
      (dec(col("f")) * dec(col("f"))).as("pairs_dec"))
    // Both the total and the top-10 consume the counts join. Measured
    // (r13-continued-4): an eager localCheckpoint wins marginally at
    // sf10 (5.3 vs 6.3 s) but LOSES 34% at sf100 (89 vs 59 s) — the
    // checkpoint write+read grows with the counts table while
    // ReusedExchange amortizes the shuffles, so the join-twice form is
    // the 100 TB shape.
    def top(pairsDf: DataFrame, name: String): DataFrame = {
      val tot = pairsDf.agg(sum(col("pairs_dec")).as("tot"))
      val w = Window.orderBy(col("pairs_dec").desc, col("join_key"))
      pairsDf
        .withColumn("rnk", row_number().over(w).cast("bigint"))
        .filter(col("rnk") <= 10)
        .crossJoin(broadcast(tot))
        .select(lit(name).as("join_id"), col("rnk"), col("join_key"),
          col("f_left"), col("f_right"),
          least(col("pairs_dec"), lit(Long.MaxValue).cast("decimal(38,0)"))
            .cast("bigint").as("pairs"),
          expr("CAST((pairs_dec * 1000000) DIV tot AS BIGINT)").as("share_ppm"))
    }
    top(ol, "orders_lineitem").unionAll(top(ee, "events_self"))
      .orderBy(col("join_id"), col("rnk"))
  }

  def oracle: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q2_distinct_agg" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_orderkey) AS n_orders,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // Same answer as q2 by definition — the twin differs only in physical
    // plan, so the oracle is shared verbatim.
    "q2_scale" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_orderkey) AS n_orders,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q3_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin,
    "q4_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_price,
        |  count(*) AS n
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin,
    "q7_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_partkey, 0.5) AS p50,
        |  quantile_cont(l_partkey, 0.9) AS p90,
        |  quantile_cont(l_linenumber, 0.25) AS q1_line
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // The scale twin's oracle IS q7's: the rank-lookup path must reproduce
    // the buffered-percentile doubles exactly.
    "q7_scale" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_partkey, 0.5) AS p50,
        |  quantile_cont(l_partkey, 0.9) AS p90,
        |  quantile_cont(l_linenumber, 0.25) AS q1_line
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q8_moments" ->
      """WITH s AS (
        |  SELECT o_orderstatus, count(*) AS n,
        |    CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_x,
        |    CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_xx
        |  FROM orders GROUP BY 1)
        |SELECT o_orderstatus, n,
        |  sum_x / n AS mean,
        |  (sum_xx - sum_x * sum_x / n) / (n - 1) AS variance,
        |  sqrt((sum_xx - sum_x * sum_x / n) / (n - 1)) AS stddev
        |FROM s ORDER BY 1""".stripMargin,
    "q9_pivot" ->
      """SELECT l_linestatus,
        |  CAST(CAST(sum(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS VARCHAR) AS DOUBLE) AS "A",
        |  CAST(CAST(sum(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS VARCHAR) AS DOUBLE) AS "N",
        |  CAST(CAST(sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS VARCHAR) AS DOUBLE) AS "R"
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q16_scalar_subquery" ->
      """SELECT c_custkey,
        |  (SELECT count(*) FROM orders o
        |   WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000) AS n_big
        |FROM customer c
        |ORDER BY c_custkey""".stripMargin,
    "q10_join_agg" ->
      """SELECT o_orderpriority,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS VARCHAR) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q10's SQL verbatim: the bucketed layout must not change a byte of
    // the result — the hash gate proves layout ≠ semantics.
    "q10_scale" ->
      """SELECT o_orderpriority,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS VARCHAR) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q62: the PLAIN layout — hash equality proves the z-order rewrite is
    // lossless. Bounds by scalar subquery = the same max/20 literals the
    // Spark side folds in.
    "q62_zorder_scan" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM lineitem
        |WHERE l_partkey <= (SELECT max(l_partkey) // 20 FROM lineitem)
        |  AND l_orderkey <= (SELECT max(l_orderkey) // 20 FROM lineitem)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q63/q64: exact per-column statistics, one UNION branch per profiled
    // column. The Spark sides are ONE scan with per-column KMV sketches
    // (q63) and a split-profile-then-merge (q64) — the SAME oracle SQL
    // for both is the mergeability proof. Timestamps compare on epoch
    // seconds (Spark's ts→double cast = DuckDB's epoch(): the same
    // micros/1e6 IEEE division).
    "q63_table_stats" -> profilerOracle,
    "q65_profile_drift" -> driftOracle,
    "q64_stats_merge" -> profilerOracle,
    "q11_join_dims" ->
      """SELECT r_name, count(*) AS n_cust,
        |  CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q12_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q13_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin,
    "q14_left_join" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q19_right_join" ->
      """SELECT c_custkey, count(o_orderkey) AS n_big_orders
        |FROM (SELECT * FROM orders WHERE o_totalprice > 200000) o
        |RIGHT JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q15_full_outer" ->
      """SELECT CAST(coalesce(b.nk, n.nk2) AS INT) AS nationkey, b.n_big, n.n_neg
        |FROM (SELECT c_nationkey AS nk, count(*) AS n_big FROM customer
        |      WHERE c_acctbal > 9000 GROUP BY 1) b
        |FULL OUTER JOIN
        |     (SELECT c_nationkey AS nk2, count(*) AS n_neg FROM customer
        |      WHERE c_acctbal < -900 GROUP BY 1) n
        |ON b.nk = n.nk2 ORDER BY nationkey""".stripMargin,
    "q5_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "q22_rank_funcs" ->
      """SELECT s_nationkey, s_suppkey,
        |  rank() OVER w AS rk,
        |  dense_rank() OVER w AS drk,
        |  ntile(2) OVER w AS half,
        |  CAST(round(CAST(percent_rank() OVER w AS DECIMAL(18,6)), 6) AS DOUBLE) AS prk
        |FROM supplier
        |WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey)
        |ORDER BY s_nationkey, s_suppkey""".stripMargin,
    "q46_null_semantics" ->
      """SELECT
        |  (SELECT count(*) FROM part p WHERE p.p_partkey NOT IN
        |     (SELECT CASE WHEN l.l_quantity > 49 THEN l.l_partkey END
        |      FROM lineitem l)) AS n_not_in,
        |  (SELECT count(*) FROM part p WHERE NOT EXISTS
        |     (SELECT 1 FROM lineitem l
        |      WHERE l.l_quantity > 49 AND l.l_partkey = p.p_partkey)) AS n_not_exists""".stripMargin,
    // Decimal window sum → VARCHAR → DOUBLE (the skill-noted double-round
    // trap in DuckDB's direct decimal→double cast); window sums over
    // DECIMAL keep their type (no HUGEINT hop).
    "q47_above_group_avg" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, cust_avg FROM (
        |  SELECT o_orderkey, o_custkey, o_totalprice,
        |    CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS VARCHAR) AS DOUBLE)
        |      / CAST(count(*) OVER w AS DOUBLE) AS cust_avg
        |  FROM orders WINDOW w AS (PARTITION BY o_custkey)) t
        |WHERE o_totalprice > cust_avg ORDER BY o_orderkey""".stripMargin,
    // The salted plan must equal the direct aggregate exactly.
    "q50_salted_agg" ->
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q49_unpivot" ->
      """WITH u AS (
        |  SELECT measure, val FROM (
        |    SELECT l_orderkey, l_linenumber,
        |           CAST(l_quantity AS DOUBLE) AS l_quantity,
        |           CAST(l_extendedprice AS DOUBLE) AS l_extendedprice,
        |           CAST(l_discount AS DOUBLE) AS l_discount
        |    FROM lineitem)
        |  UNPIVOT (val FOR measure IN (l_quantity, l_extendedprice, l_discount)))
        |SELECT measure, count(*) AS n,
        |  CAST(CAST(sum(CAST(val AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,
    // Bloom pruning is conservative, so the oracle is the plain join.
    "q48_bloom_prune_join" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, c_acctbal
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_acctbal > 9000 ORDER BY o_orderkey""".stripMargin,
    "q51_filtered_agg" ->
      """SELECT l_linestatus, count(*) AS n_total,
        |  count(*) FILTER (WHERE l_returnflag = 'R') AS n_returned,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
        |    FILTER (WHERE l_returnflag = 'R') AS VARCHAR) AS DOUBLE) AS qty_returned,
        |  count(*) FILTER (WHERE l_quantity > 30) AS n_big,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
        |    FILTER (WHERE l_quantity > 30) AS VARCHAR) AS DOUBLE) AS price_big
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q52_mode" ->
      """SELECT o_orderstatus, o_orderpriority AS mode_priority,
        |  cnt AS n_mode, n_total FROM (
        |  SELECT o_orderstatus, o_orderpriority, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY o_orderstatus) AS BIGINT) AS n_total,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY cnt DESC, o_orderpriority) AS rn
        |  FROM (SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
        |        FROM orders GROUP BY 1, 2) c) t
        |WHERE rn = 1 ORDER BY o_orderstatus""".stripMargin,
    "q53_equidepth" ->
      """WITH c AS (
        |  SELECT o_totalprice, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |b AS (SELECT quantile_cont(cents, [0.25, 0.5, 0.75]) AS bs FROM c)
        |SELECT bucket, count(*) AS n, min(o_totalprice) AS lo, max(o_totalprice) AS hi,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total
        |FROM (
        |  SELECT o_totalprice,
        |    CASE WHEN cents <= bs[1] THEN 1
        |         WHEN cents <= bs[2] THEN 2
        |         WHEN cents <= bs[3] THEN 3
        |         ELSE 4 END AS bucket
        |  FROM c CROSS JOIN b) t
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // The salted join must equal the plain join exactly.
    "q54_salted_join" ->
      """SELECT o_orderkey, o_orderpriority, prio_n
        |FROM orders
        |JOIN (SELECT o_orderpriority, count(*) AS prio_n
        |      FROM orders GROUP BY 1) USING (o_orderpriority)
        |ORDER BY o_orderkey""".stripMargin,
    "q55_num_range_frame" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice,
        |  count(*) OVER w AS n_band,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS VARCHAR) AS DOUBLE) AS band_total
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice
        |  RANGE BETWEEN 100.0 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,
    // The scale twin computes the identical band with a histogram prefix +
    // edge join instead of a frame, so its oracle IS q55's frame SQL: any
    // divergence between the two evaluation strategies is a wrong answer.
    "q55_scale" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice,
        |  count(*) OVER w AS n_band,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS VARCHAR) AS DOUBLE) AS band_total
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice
        |  RANGE BETWEEN 100.0 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,
    "q56_tpch5" ->
      """SELECT n_name, count(*) AS n_items,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS VARCHAR) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        | AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
        |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin,
    // Sketch oracles run in the LOSSLESS sub-capacity regime at verify SF
    // (see the queries' scaladoc), so the exact SQL is the oracle; the
    // saturation regimes are spec-bound (SketchSpec), the q45/s2 split.
    "q57_kmv_distinct" ->
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS DOUBLE) AS n_parts_est,
        |  CAST(count(DISTINCT l_orderkey) AS DOUBLE) AS n_orders_est,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q58_kmv_set_ops" ->
      """WITH s AS (SELECT DISTINCT event_type, user_id FROM events
        |           WHERE user_id IS NOT NULL),
        |c AS (SELECT event_type, count(*) AS n FROM s GROUP BY 1),
        |i AS (SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS n_inter
        |      FROM s a JOIN s b ON a.user_id = b.user_id
        |       AND a.event_type < b.event_type
        |      GROUP BY 1, 2)
        |SELECT ca.event_type AS type_a, cb.event_type AS type_b,
        |  CAST(ca.n + cb.n - COALESCE(i.n_inter, 0) AS DOUBLE) AS union_ndv,
        |  CAST(COALESCE(i.n_inter, 0) AS DOUBLE) AS inter_ndv,
        |  CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
        |    / CAST(ca.n + cb.n - COALESCE(i.n_inter, 0) AS DOUBLE) AS jaccard
        |FROM c ca JOIN c cb ON ca.event_type < cb.event_type
        |LEFT JOIN i ON i.ta = ca.event_type AND i.tb = cb.event_type
        |ORDER BY type_a, type_b""".stripMargin,
    "q59_heavy_hitters" ->
      """SELECT l_returnflag, rk, l_partkey, cnt, CAST(0 AS BIGINT) AS err
        |FROM (
        |  SELECT l_returnflag, l_partkey, count(*) AS cnt,
        |    row_number() OVER (PARTITION BY l_returnflag
        |                       ORDER BY count(*) DESC, l_partkey) AS rk
        |  FROM lineitem WHERE l_partkey IS NOT NULL
        |  GROUP BY 1, 2) t
        |WHERE rk <= 5 ORDER BY l_returnflag, rk""".stripMargin,
    // The sketch runs lossless below pctCap at verify SF, so q7's exact
    // oracle applies verbatim (the q57-vs-q2 split, for quantiles).
    "q60_pct_sketch" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_partkey, 0.5) AS p50,
        |  quantile_cont(l_partkey, 0.9) AS p90,
        |  quantile_cont(l_linenumber, 0.25) AS q1_line
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // No engine has a weighted interpolated quantile builtin, so the
    // oracle states the estimator's arithmetic itself: cumulative-weight
    // window, rank probes at floor/ceil of q·(W−1), the same
    // (ceil−pos)·lo + (pos−floor)·hi combination in the same operation
    // order (window sums CAST to BIGINT per the HUGEINT rule). Weight
    // conversion is trunc-toward-zero on BOTH sides: Spark's double→long
    // cast truncates, while DuckDB's bare CAST rounds-to-nearest — the
    // explicit trunc() pins the engines to the same integer on any
    // fractional quantity.
    "q61_weighted_pct" ->
      """WITH c AS (
        |  SELECT l_returnflag AS flag, l_extendedprice AS v,
        |    CAST(sum(CAST(trunc(l_quantity) AS BIGINT)) OVER (
        |      PARTITION BY l_returnflag ORDER BY l_extendedprice
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(sum(CAST(trunc(l_quantity) AS BIGINT)) OVER (
        |      PARTITION BY l_returnflag) AS BIGINT) AS wt
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL),
        |p AS (
        |  SELECT flag, v, cum,
        |    0.5 * CAST(wt - 1 AS DOUBLE) AS pos50,
        |    0.9 * CAST(wt - 1 AS DOUBLE) AS pos90
        |  FROM c),
        |a AS (
        |  SELECT flag, max(pos50) AS pos50, max(pos90) AS pos90,
        |    min(CASE WHEN CAST(cum AS DOUBLE) > floor(pos50) THEN v END) AS lo50,
        |    min(CASE WHEN CAST(cum AS DOUBLE) > ceil(pos50) THEN v END) AS hi50,
        |    min(CASE WHEN CAST(cum AS DOUBLE) > floor(pos90) THEN v END) AS lo90,
        |    min(CASE WHEN CAST(cum AS DOUBLE) > ceil(pos90) THEN v END) AS hi90
        |  FROM p GROUP BY 1)
        |SELECT flag AS l_returnflag,
        |  CASE WHEN floor(pos50) = ceil(pos50) THEN lo50
        |       ELSE (ceil(pos50) - pos50) * lo50 + (pos50 - floor(pos50)) * hi50
        |  END AS wp50,
        |  CASE WHEN floor(pos90) = ceil(pos90) THEN lo90
        |       ELSE (ceil(pos90) - pos90) * lo90 + (pos90 - floor(pos90)) * hi90
        |  END AS wp90
        |FROM a ORDER BY 1""".stripMargin,
    "q17_theta_join" ->
      """SELECT a.p_partkey AS pa, b.p_partkey AS pb
        |FROM (SELECT * FROM part WHERE p_partkey <= 40) a
        |JOIN (SELECT * FROM part WHERE p_partkey <= 40) b
        |  ON a.p_partkey < b.p_partkey
        | AND abs(a.p_retailprice - b.p_retailprice) < 50.0
        |ORDER BY pa, pb""".stripMargin,
    "q18_null_safe_eq" ->
      """SELECT (bucket IS NOT DISTINCT FROM NULL) AS is_null_bucket, bucket, count(*) AS n
        |FROM (SELECT CASE WHEN o_totalprice > 400000 THEN o_orderstatus END AS bucket
        |      FROM orders) t
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q20_topk_per_group" ->
      """SELECT s_nationkey, s_suppkey, s_name, rk FROM (
        |  SELECT s_nationkey, s_suppkey, s_name,
        |    row_number() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey) AS rk
        |  FROM supplier) t
        |WHERE rk <= 2 ORDER BY s_nationkey, rk, s_suppkey""".stripMargin,
    "q21_running_sum" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS running_price
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q30_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q40_union" ->
      """SELECT nk, count(*) AS n FROM (
        |  SELECT CAST(c_nationkey AS INT) AS nk FROM customer
        |  UNION ALL
        |  SELECT CAST(s_nationkey AS INT) AS nk FROM supplier) t
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q41_intersect" ->
      """SELECT CAST(c_nationkey AS INT) AS nk FROM customer
        |INTERSECT
        |SELECT CAST(s_nationkey AS INT) AS nk FROM supplier
        |ORDER BY 1""".stripMargin,
    "q42_except" ->
      """SELECT c_custkey AS k FROM customer
        |EXCEPT
        |SELECT o_custkey AS k FROM orders WHERE o_totalprice > 300000
        |ORDER BY 1""".stripMargin,
    "q43_lateral" ->
      """SELECT n.n_name AS nation, t.s_suppkey, t.s_name, t.s_acctbal
        |FROM nation n,
        |LATERAL (SELECT s_suppkey, s_name, s_acctbal FROM supplier s
        |         WHERE s.s_nationkey = n.n_nationkey
        |         ORDER BY s_acctbal DESC, s_suppkey LIMIT 2) t
        |ORDER BY nation, s_acctbal DESC, s_suppkey""".stripMargin,
    // q66: '[ -~]*' is the printable-ASCII guard (byte edits == codepoint
    // edits there, so both engines' levenshtein agree); the join mirrors
    // the engine's blocking key and the 2-arg levenshtein is exact.
    "q66_entity_match" ->
      """WITH c AS (
        |  SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
        |    substring(c_name, 1, greatest(length(c_name) - 3, 0)) AS blk
        |  FROM customer
        |  WHERE c_custkey IS NOT NULL AND c_name IS NOT NULL
        |    AND regexp_matches(c_name, '^[ -~]*$'))
        |SELECT a.c_custkey AS a_custkey, b.c_custkey AS b_custkey,
        |  a.c_name AS a_name, b.c_name AS b_name,
        |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist,
        |  a.c_mktsegment AS segment
        |FROM c a JOIN c b
        |  ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
        |  AND a.blk = b.blk AND a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY a_custkey, b_custkey""".stripMargin,
    // Mirrors q67: per-key frequencies with the t10/t22 md5 admit test
    // (CAST('0x'||prefix AS BIGINT) names the same 32-bit value Spark's
    // conv() does), DuckDB's HUGEINT sums cast back to BIGINT to match
    // Spark's long arithmetic; the empty-sample sum is NULL on both
    // engines and coalesces to 0.
    "q67_join_size_est" ->
      """WITH lf AS (
        |  SELECT l_orderkey AS k, count(*) AS f,
        |    CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % 16 = 0 AS adm
        |  FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1),
        |ofr AS (
        |  SELECT o_orderkey AS k, count(*) AS f,
        |    CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % 16 = 0 AS adm
        |  FROM orders WHERE o_orderkey IS NOT NULL GROUP BY 1),
        |ef AS (
        |  SELECT user_id AS k, count(*) AS f,
        |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 16 = 0 AS adm
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |u AS (
        |  SELECT 'orders_lineitem' AS join_id,
        |    CAST(coalesce(CAST(sum(CASE WHEN ofr.adm THEN ofr.f * lf.f END) AS BIGINT), 0) * 16 AS DOUBLE) AS est_rows,
        |    coalesce(CAST(sum(ofr.f * lf.f) AS BIGINT), 0) AS exact_rows
        |  FROM ofr JOIN lf ON ofr.k = lf.k
        |  UNION ALL
        |  SELECT 'events_self' AS join_id,
        |    CAST(coalesce(CAST(sum(CASE WHEN adm THEN f * f END) AS BIGINT), 0) * 16 AS DOUBLE) AS est_rows,
        |    coalesce(CAST(sum(f * f) AS BIGINT), 0) AS exact_rows
        |  FROM ef)
        |SELECT join_id, est_rows, exact_rows,
        |  CASE WHEN exact_rows > 0
        |       THEN abs(est_rows - CAST(exact_rows AS DOUBLE)) / CAST(exact_rows AS DOUBLE) END AS rel_err
        |FROM u ORDER BY join_id""".stripMargin,
    // Exact integer ppm via HUGEINT floor division — DuckDB's native
    // 128-bit twin of the engine's DECIMAL(38,0) DIV (both operands
    // positive, so floor == trunc and the two engines agree bit-for-bit).
    "q68_skew_topkeys" ->
      """WITH lf AS (
        |  SELECT l_orderkey AS join_key, CAST(count(*) AS BIGINT) AS f
        |  FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1),
        |ofr AS (
        |  SELECT o_orderkey AS join_key, CAST(count(*) AS BIGINT) AS f
        |  FROM orders WHERE o_orderkey IS NOT NULL GROUP BY 1),
        |ef AS (
        |  SELECT user_id AS join_key, CAST(count(*) AS BIGINT) AS f
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |ol AS (
        |  SELECT 'orders_lineitem' AS join_id, join_key, ofr.f AS f_left,
        |    lf.f AS f_right, CAST(ofr.f AS HUGEINT) * CAST(lf.f AS HUGEINT) AS pairs
        |  FROM ofr JOIN lf USING (join_key)
        |  UNION ALL
        |  SELECT 'events_self', join_key, f, f, CAST(f AS HUGEINT) * CAST(f AS HUGEINT)
        |  FROM ef),
        |r AS (
        |  SELECT join_id, join_key, f_left, f_right, pairs,
        |    CAST(row_number() OVER (PARTITION BY join_id ORDER BY pairs DESC, join_key) AS BIGINT) AS rnk,
        |    sum(pairs) OVER (PARTITION BY join_id) AS tot
        |  FROM ol)
        |SELECT join_id, rnk, join_key, f_left, f_right,
        |  CAST(LEAST(pairs, CAST(9223372036854775807 AS HUGEINT)) AS BIGINT) AS pairs,
        |  CAST((pairs * 1000000) // tot AS BIGINT) AS share_ppm
        |FROM r WHERE rnk <= 10 ORDER BY join_id, rnk""".stripMargin,
    // Same answer as q68 below skewCap by the lossless-below-capacity
    // contract (the q57-vs-q2 split) — oracle shared verbatim.
    "q68_scale" ->
      """WITH lf AS (
        |  SELECT l_orderkey AS join_key, CAST(count(*) AS BIGINT) AS f
        |  FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1),
        |ofr AS (
        |  SELECT o_orderkey AS join_key, CAST(count(*) AS BIGINT) AS f
        |  FROM orders WHERE o_orderkey IS NOT NULL GROUP BY 1),
        |ef AS (
        |  SELECT user_id AS join_key, CAST(count(*) AS BIGINT) AS f
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |ol AS (
        |  SELECT 'orders_lineitem' AS join_id, join_key, ofr.f AS f_left,
        |    lf.f AS f_right, CAST(ofr.f AS HUGEINT) * CAST(lf.f AS HUGEINT) AS pairs
        |  FROM ofr JOIN lf USING (join_key)
        |  UNION ALL
        |  SELECT 'events_self', join_key, f, f, CAST(f AS HUGEINT) * CAST(f AS HUGEINT)
        |  FROM ef),
        |r AS (
        |  SELECT join_id, join_key, f_left, f_right, pairs,
        |    CAST(row_number() OVER (PARTITION BY join_id ORDER BY pairs DESC, join_key) AS BIGINT) AS rnk,
        |    sum(pairs) OVER (PARTITION BY join_id) AS tot
        |  FROM ol)
        |SELECT join_id, rnk, join_key, f_left, f_right,
        |  CAST(LEAST(pairs, CAST(9223372036854775807 AS HUGEINT)) AS BIGINT) AS pairs,
        |  CAST((pairs * 1000000) // tot AS BIGINT) AS share_ppm
        |FROM r WHERE rnk <= 10 ORDER BY join_id, rnk""".stripMargin,
    // The join-IVM contract: the oracle recomputes the joined rollup from
    // the WHOLE tables and never sees the engine's two-sided base/delta
    // split — hash equality certifies the bilinear factorization.
    "q69_ivm_join" ->
      """SELECT c.c_nationkey, o.o_orderstatus,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(count(CASE WHEN isfinite(o.o_totalprice)
        |    THEN CAST(round(o.o_totalprice * 100) AS BIGINT) END) AS BIGINT) AS n_vals,
        |  CAST(sum(CASE WHEN isfinite(o.o_totalprice)
        |    THEN CAST(round(o.o_totalprice * 100) AS BIGINT) END) AS BIGINT) AS sum_cents
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1, 2
        |ORDER BY c.c_nationkey NULLS FIRST, o.o_orderstatus NULLS FIRST""".stripMargin,
    // q69's recompute VERBATIM — the oracle never sees the persisted
    // vintage, the double-ingested shard, or the signed retraction, so
    // hash equality certifies the production read path + signed algebra.
    "q69_scale" ->
      """SELECT c.c_nationkey, o.o_orderstatus,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(count(CASE WHEN isfinite(o.o_totalprice)
        |    THEN CAST(round(o.o_totalprice * 100) AS BIGINT) END) AS BIGINT) AS n_vals,
        |  CAST(sum(CASE WHEN isfinite(o.o_totalprice)
        |    THEN CAST(round(o.o_totalprice * 100) AS BIGINT) END) AS BIGINT) AS sum_cents
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1, 2
        |ORDER BY c.c_nationkey NULLS FIRST, o.o_orderstatus NULLS FIRST""".stripMargin,
    "q70_expectations" ->
      """WITH cu AS (SELECT count(*) AS n, count(c_custkey) AS nk,
        |    count(DISTINCT c_custkey) AS ndv FROM customer),
        |o AS (SELECT count(o_orderstatus) AS ns,
        |    sum(CASE WHEN o_orderstatus IS NOT NULL
        |      AND o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS bad_s,
        |    count(o_totalprice) AS np,
        |    sum(CASE WHEN o_totalprice IS NOT NULL
        |      AND (NOT isfinite(o_totalprice) OR o_totalprice < 0)
        |      THEN 1 ELSE 0 END) AS bad_p FROM orders),
        |e AS (SELECT count(*) AS n, count(user_id) AS nu FROM events),
        |l AS (SELECT count(l_quantity) AS nq,
        |    sum(CASE WHEN l_quantity IS NOT NULL AND l_quantity <= 0
        |      THEN 1 ELSE 0 END) AS bad_q FROM lineitem),
        |ro AS (SELECT count(*) AS tot,
        |    sum(CASE WHEN p.c_custkey IS NULL THEN 1 ELSE 0 END) AS v
        |  FROM orders c LEFT JOIN (SELECT DISTINCT c_custkey FROM customer
        |    WHERE c_custkey IS NOT NULL) p ON c.o_custkey = p.c_custkey
        |  WHERE c.o_custkey IS NOT NULL),
        |rl AS (SELECT count(*) AS tot,
        |    sum(CASE WHEN p.o_orderkey IS NULL THEN 1 ELSE 0 END) AS v
        |  FROM lineitem c LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders
        |    WHERE o_orderkey IS NOT NULL) p ON c.l_orderkey = p.o_orderkey
        |  WHERE c.l_orderkey IS NOT NULL),
        |checks AS (
        |  SELECT 'c_custkey_not_null' AS check_id, 'customer' AS tbl,
        |    n - nk AS violations, n AS total, 1000 AS thr_ppm FROM cu
        |  UNION ALL SELECT 'c_custkey_unique', 'customer', nk - ndv, nk, 0 FROM cu
        |  UNION ALL SELECT 'o_status_domain', 'orders', bad_s, ns, 0 FROM o
        |  UNION ALL SELECT 'o_price_valid', 'orders', bad_p, np, 0 FROM o
        |  UNION ALL SELECT 'e_user_not_null', 'events', n - nu, n, 1000 FROM e
        |  UNION ALL SELECT 'l_qty_positive', 'lineitem', bad_q, nq, 0 FROM l
        |  UNION ALL SELECT 'o_custkey_ref', 'orders', v, tot, 0 FROM ro
        |  UNION ALL SELECT 'l_orderkey_ref', 'lineitem', v, tot, 0 FROM rl)
        |SELECT check_id, tbl, CAST(COALESCE(violations, 0) AS BIGINT) AS violations,
        |  CAST(total AS BIGINT) AS total,
        |  CASE WHEN total > 0
        |    THEN CAST((COALESCE(violations, 0) * 1000000) // total AS BIGINT) END AS ppm,
        |  CAST(thr_ppm AS BIGINT) AS thr_ppm,
        |  CAST(CASE WHEN total = 0 OR COALESCE(
        |      CASE WHEN total > 0 THEN (COALESCE(violations, 0) * 1000000) // total END, 0)
        |      <= thr_ppm THEN 1 ELSE 0 END AS INT) AS pass
        |FROM checks ORDER BY check_id""".stripMargin
  )
}
