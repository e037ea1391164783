package graftbench

import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Query workload: a fixed, ordered mix of `SparkEntry` queries over a
  * fixed corpus, each forced with a noop write (as `graft.Bench` does),
  * in back-to-back passes by one client.
  *
  * Set-up is the first call of every query, on a fresh warehouse: it pays
  * the provision-on-first-use layouts (bucketed copy for q10_scale, z-order
  * copy for q62_zorder_scan, IVM vintage for q69_scale, ANN vintage for
  * s20_recall) and writes each result as parquet for the check that follows
  * the run. */
final class QueryWorkload(spark: SparkSession, args: RunArgs, corpus: String) {
  import QueryWorkload._

  private var attempted, failed = 0L

  /** Runs `name` once; returns (seconds to executed plan, seconds after), or
    * None if it failed. */
  private def call(name: String, plan: Boolean)(force: org.apache.spark.sql.DataFrame => Unit)
      : Option[(Double, Double)] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val df = SparkEntry.queries(name)(spark, corpus)
      if (plan) df.queryExecution.executedPlan
      val t1 = System.nanoTime()
      force(df)
      Some(((t1 - t0) / 1e9, Stats.secondsSince(t1)))
    } catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[graftbench] $name FAILED: ${e.getMessage}")
        None
    }
  }

  private def pass(traced: Option[TaskCounter]): Pass = {
    def body(): Map[String, (Double, Double)] = Mix.flatMap { n =>
      call(n, plan = traced.isDefined)(_.write.format("noop").mode("overwrite").save()).map(n -> _)
    }.toMap
    val t0 = System.nanoTime()
    traced match {
      case None => val t = body(); Pass(Stats.secondsSince(t0), t, None)
      case Some(c) => val (t, k) = c.during(spark)(body()); Pass(Stats.secondsSince(t0), t, Some(k))
    }
  }

  def run(sessionS: Double): Outcome = {
    val verifyDir = s"${args.runDir}/verify"
    val firstCall = Mix.flatMap { n =>
      call(n, plan = false)(_.write.mode("overwrite").parquet(s"$verifyDir/$n"))
        .map { case (a, b) => n -> (a + b) }
    }.toMap
    val oracles = Mix.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    Json.write(s"$verifyDir/oracle_sql.json", oracles)
    val setup = sessionS + firstCall.values.sum

    // Each query's best time over the timed passes (graft.Bench's protocol:
    // a slow host window inflates a query only if it hits every pass).
    def metricsAndDetail(ps: Seq[Pass]) = {
      val best = Mix.flatMap(n => ps.flatMap(_.times.get(n)).map { case (a, b) => a + b }
        .minOption.map(n -> _)).toMap
      val lat = best.values.toSeq.map(_ * 1000)
      (Seq(
        Metric("setup_s", setup, "s"),
        Metric("throughput_per_s", best.size / best.values.sum, "1/s"),
        Metric("latency_ms_p50", Stats.median(lat), "ms"),
        Metric("latency_ms_p90", Stats.pct(lat, 90), "ms")),
        Seq("mix_pass_s" -> best.values.sum, "passes" -> ps.size, "queries" -> Mix.size,
          "pass_wall_s" -> ps.map(_.wallS), "session_s" -> sessionS,
          "first_call_s" -> firstCall, "best_s" -> best))
    }

    val nPasses = math.max(1, (args.seconds / PassSeconds).toInt)
    if (!args.trace) {
      val (m, d) = metricsAndDetail(Seq.fill(nPasses)(pass(None)))
      Outcome(attempted, failed, m, d)
    } else {
      // Untraced and traced passes alternate, so warm-up drift falls on
      // both; traced passes run with the benchmark's listener and force
      // each query's executed plan first. Their wall-time difference is the
      // tracing overhead.
      val counter = new TaskCounter
      val (plain, traced) = (1 to nPasses).map { _ =>
        val p = pass(None)
        spark.sparkContext.addSparkListener(counter)
        val t = pass(Some(counter))
        spark.sparkContext.removeSparkListener(counter)
        (p, t)
      }.unzip
      def med(f: Pass => Double): Double = Stats.median(traced.map(f))
      val modules = ModuleOf.values.toSeq.distinct.sorted.map { m =>
        Metric(s"queries.${m}_s", med(p => p.times.collect {
          case (n, (a, b)) if ModuleOf(n) == m => a + b }.sum), "s")
      }
      val counts = traced.flatMap(_.counts)
      def medCount(f: TaskCounter.Counts => Double): Double = Stats.median(counts.map(f))
      val layouts = Layouts.toSeq.map { case (n, layout) =>
        val warm = Stats.median((plain ++ traced).flatMap(_.times.get(n).map { case (a, b) => a + b }))
        Metric(s"layouts.${layout}_build_s", firstCall.getOrElse(n, 0.0) - warm, "s")
      }
      val overhead = med(_.wallS) / Stats.median(plain.map(_.wallS)) - 1
      Outcome(attempted, failed, modules ++ layouts ++ Seq(
        Metric("queries.plan_s", med(_.times.values.map(_._1).sum), "s"),
        Metric("queries.exec_s", med(_.times.values.map(_._2).sum), "s"),
        Metric("queries.jobs", medCount(_.jobs.toDouble), "count"),
        Metric("queries.tasks", medCount(_.tasks.toDouble), "count"),
        Metric("queries.task_cpu_s", medCount(_.cpuS), "s"),
        Metric("queries.shuffle_bytes", medCount(_.shuffleBytes.toDouble), "bytes"),
        Metric("queries.spill_bytes", medCount(_.spillBytes.toDouble), "bytes"),
        Metric("trace.overhead_pct", 100 * overhead, "%")),
        metricsAndDetail(plain)._2 ++ Seq("traced_passes" -> traced.size))
    }
  }
}

object QueryWorkload {
  /** A run times `seconds / PassSeconds` whole passes (at least one), so
    * every run of a given length times the same work; a pass cut short
    * would bias the mix. A pass takes 4-12 s on 4 cores, with the host's
    * speed; two passes let each query's best time skip some warm-up and a
    * short slow host window, and keep a run short enough that a full round
    * of runs fits its time budget on a slow host. */
  val PassSeconds = 5

  final case class Pass(wallS: Double, times: Map[String, (Double, Double)],
      counts: Option[TaskCounter.Counts])

  /** The fixed mix, in run order: one query of every `queries` module plus
    * the four layout-backed queries, which come after the JVM has warmed up
    * on the others so their first calls measure provisioning, not JIT.
    * MappingQueries is left out: it replays reference fixture files rather
    * than the corpus. */
  val Mix: Seq[String] = Seq(
    "e1_tumbling_window", "sc1_string_funcs", "t3_tokens", "d1_dedup_exact",
    "mm1_media_table", "q10_scale", "q62_zorder_scan", "q69_scale", "s20_recall")

  val Layouts: Map[String, String] = Map(
    "q10_scale" -> "bucketed", "q62_zorder_scan" -> "zorder",
    "q69_scale" -> "ivm_vintage", "s20_recall" -> "ann_vintage")

  val ModuleOf: Map[String, String] = Seq(
    "Relational" -> graft.queries.Relational.queries,
    "Events" -> graft.queries.Events.queries,
    "Scalars" -> graft.queries.Scalars.queries,
    "TextOps" -> graft.queries.TextOps.queries,
    "Dedup" -> graft.queries.Dedup.queries,
    "Similarity" -> graft.queries.Similarity.queries,
    "Multimodal" -> graft.queries.Multimodal.queries)
    .flatMap { case (m, qs) => Mix.filter(qs.contains).map(_ -> m) }.toMap
}
