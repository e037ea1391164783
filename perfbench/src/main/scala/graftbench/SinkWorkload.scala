package graftbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.functions.PyJson
import graft.sinks.{JdbcSink, UpsertSink}
import graft.sources.JsonDecoder
import graft.streaming.Pipeline
import graft.tables.GenericFloat

/** Sink workloads: a closed loop with one client. The driver thread hands a
  * micro-batch of Kafka-shaped records to a `MemoryStream`, then waits in
  * `processAllAvailable` until graft's pipeline (`Pipeline.run` → decode →
  * `GenericFloat` → last-wins dedup → `JdbcSink`) has committed it; only then
  * does it hand off the next one. */
final class SinkWorkload(spark: SparkSession, shape: SinkShape, args: RunArgs) {
  private val mapping = new GenericFloat("floats")
  private val keys = mapping.upsertKeys.get
  private val warmupBatches = 3
  private val setupRepeats = 3
  private val traceBlock = 4

  /** One pipeline writing one fresh stand-in table, fed by its own generator. */
  private final class Stream(rep: Int) {
    private implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    private val gen = new MessageGen(shape, args.seed * 1000 + rep)
    val db = s"${args.workload}-$rep"
    val table = StandInDb.create(db, keys)
    val checkpoint = s"${args.runDir}/checkpoints/$rep"
    private val source = MemoryStream[(Array[Byte], Array[Byte], Long)]
    val query = Pipeline.run(source.toDF().toDF("key", "value", "offset"), mapping,
      new JdbcSink(StandInDb.url(db), new java.util.Properties), checkpoint,
      JsonDecoder, Trigger.ProcessingTime(0))

    private val landing = mutable.HashMap.empty[String, Long]
    var sent, malformed = 0L
    var steps = 0
    private var next = gen.next()

    /** Hands one batch off and waits for its commit: (start, hand-off end,
      * commit) in nanoseconds. The next batch is generated while this one
      * is processed, so the generator adds no gap between batches. */
    def step(): (Long, Long, Long) = {
      val b = next
      val t0 = System.nanoTime()
      source.addData(b.records: _*)
      val tHandoff = System.nanoTime()
      landing ++= b.landing
      sent += b.records.size
      malformed += b.malformed
      next = gen.next()
      query.processAllAvailable()
      steps += 1
      (t0, tHandoff, System.nanoTime())
    }

    /** Stops the pipeline and counts messages whose expected outcome did not
      * land: a key missing, duplicated or not holding its last `meta.seq`, a
      * dropped message that was written, and any dead-letter miscount. */
    def stopAndCheck(): Long = {
      query.stop()
      val stored = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]
      table.rows.values.forEach { r =>
        val seq = PyJson.parse(r("payload").asInstanceOf[String]).get("meta").get("seq").asLong
        stored.getOrElseUpdate(r("uid").asInstanceOf[String], mutable.ArrayBuffer.empty) += seq
      }
      val wrong = landing.count { case (uid, seq) => !stored.get(uid).contains(mutable.ArrayBuffer(seq)) }
      val extra = stored.keysIterator.count(uid => !landing.contains(uid))
      val batches = Pipeline.DeadLetterMetrics.snapshot().filter(_.tag == checkpoint)
      val dead = batches.map(_.nDead).sum
      val seen = batches.map(m => m.nOk + m.nDead).sum
      wrong + extra + math.abs(dead - malformed) + math.abs(seen - sent)
    }

    def deadLetters: Long =
      Pipeline.DeadLetterMetrics.snapshot().filter(_.tag == checkpoint).map(_.nDead).sum
  }

  /** Runs closed-loop steps for `seconds` (at least one). */
  private def measure(s: Stream, seconds: Double): SinkWorkload.Window = {
    val steps = mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val t0 = System.nanoTime()
    while (steps.isEmpty || Stats.secondsSince(t0) < seconds) steps += s.step()
    val wall = (steps.last._3 - steps.head._1) / 1e9
    SinkWorkload.Window(steps.map { case (a, _, c) => (c - a) / 1e6 }.toSeq,
      steps.size * shape.batchSize / wall)
  }

  def run(sessionS: Double): Outcome = {
    StandInDb.register()
    var attempted, failed = 0L
    val setupS = mutable.ArrayBuffer.empty[Double]
    var stream: Stream = null
    for (rep <- 1 to setupRepeats) {
      if (stream != null) {
        failed += stream.stopAndCheck(); attempted += stream.sent
      }
      val t0 = System.nanoTime()
      stream = new Stream(rep)
      (1 to warmupBatches).foreach(_ => stream.step())
      setupS += Stats.secondsSince(t0)
    }
    val setup = sessionS + Stats.median(setupS.toSeq)

    if (!args.trace) {
      val w = measure(stream, args.seconds)
      failed += stream.stopAndCheck(); attempted += stream.sent
      Outcome(attempted, failed, Seq(
        Metric("setup_s", setup, "s"),
        Metric("throughput_per_s", w.msgsPerS, "1/s"),
        Metric("latency_ms_p50", Stats.median(w.latencyMs), "ms"),
        Metric("latency_ms_p90", Stats.pct(w.latencyMs, 90), "ms")),
        Seq("ingest_msgs_per_s" -> w.msgsPerS, "batch_ms_p50" -> Stats.median(w.latencyMs),
          "batch_ms_p90" -> Stats.pct(w.latencyMs, 90), "batches" -> w.latencyMs.size,
          "batch_ms" -> w.latencyMs.map(x => math.rint(x * 10) / 10),
          "batch_size" -> shape.batchSize, "session_s" -> sessionS,
          "stream_setup_s" -> setupS.toSeq, "dead_letters" -> stream.deadLetters))
    } else {
      // Untraced and traced blocks of batches alternate, so warm-up drift
      // falls on both; traced blocks run with the benchmark's listener.
      // Their latency difference is the tracing overhead.
      val counter = new TaskCounter
      val plain, traced, handoff = mutable.ArrayBuffer.empty[Double]
      val tracedSteps = mutable.ArrayBuffer.empty[Int]
      var jobs, tasks = 0L
      val t0 = System.nanoTime()
      var on = false
      while (traced.isEmpty || Stats.secondsSince(t0) < args.seconds) {
        def block() = (1 to traceBlock).map(_ => (stream.steps, stream.step()))
        if (!on) plain ++= block().map { case (_, (a, _, c)) => (c - a) / 1e6 }
        else {
          spark.sparkContext.addSparkListener(counter)
          val (steps, counts) = counter.during(spark)(block())
          spark.sparkContext.removeSparkListener(counter)
          jobs += counts.jobs; tasks += counts.tasks
          steps.foreach { case (i, (a, b, c)) =>
            tracedSteps += i; traced += (c - a) / 1e6; handoff += (b - a) / 1e6
          }
        }
        on = !on
      }
      // One addData is one micro-batch: the stream's n-th batch with input
      // is its n-th step.
      val withInput = stream.query.recentProgress.filter(_.numInputRows > 0)
      val progress = tracedSteps.toSeq.map(withInput)
      def dur(keys: String*): Double =
        Stats.median(progress.map(p => keys.map(k => p.durationMs.getOrDefault(k, 0L).toDouble).sum))
      val dead = stream.deadLetters
      failed += stream.stopAndCheck(); attempted += stream.sent
      spark.sparkContext.addSparkListener(counter)
      val probe = new SinkProbes(spark, shape, mapping, args, counter).run()
      val overhead = Stats.median(traced.toSeq) / Stats.median(plain.toSeq) - 1
      Outcome(attempted, failed, probe ++ Seq(
        Metric("sources.dead_letters", dead, "count"),
        Metric("streaming.plan_ms", dur("queryPlanning"), "ms"),
        Metric("streaming.add_batch_ms", dur("addBatch"), "ms"),
        Metric("streaming.log_commit_ms", dur("walCommit", "commitOffsets"), "ms"),
        Metric("streaming.trigger_ms", dur("triggerExecution"), "ms"),
        Metric("streaming.jobs_per_batch", jobs.toDouble / traced.size, "count"),
        Metric("streaming.tasks_per_batch", tasks.toDouble / traced.size, "count"),
        Metric("streaming.handoff_ms", Stats.median(handoff.toSeq), "ms"),
        Metric("trace.overhead_pct", 100 * overhead, "%")),
        Seq("setup_s" -> setup, "untraced_batch_ms_p50" -> Stats.median(plain.toSeq),
          "traced_batch_ms_p50" -> Stats.median(traced.toSeq),
          "untraced_batches" -> plain.size, "traced_batches" -> traced.size))
    }
  }
}

object SinkWorkload {
  final case class Window(latencyMs: Seq[Double], msgsPerS: Double)
}

/** Per-layer probes, outside the stream: each layer's public entry point
  * called directly on generated input, timed from here. */
final class SinkProbes(spark: SparkSession, shape: SinkShape, mapping: GenericFloat,
    args: RunArgs, counter: TaskCounter) {
  import spark.implicits._
  private val reps = 3
  private val probeMsgs = 20000

  def run(): Seq[Metric] = {
    val gen = new MessageGen(shape, args.seed * 1000 + 999)
    val msgs = Iterator.continually(gen.next().records).flatten.take(probeMsgs).toVector

    // sources: single-thread decode of every probe message.
    var decoded: Vector[(String, Option[String])] = Vector.empty
    val decodeS = Stats.median((1 to reps).map { _ =>
      val t0 = System.nanoTime()
      decoded = msgs.map { case (k, v, _) => (new String(k, "UTF-8"), JsonDecoder.decode(v)) }
      Stats.secondsSince(t0)
    })
    val ok = decoded.collect { case (k, Some(json)) => (k, json) }
    // tables: single-thread mapMessage of every decodable message.
    var mapped = 0
    val mapS = Stats.median((1 to reps).map { _ =>
      val t0 = System.nanoTime()
      mapped = ok.count { case (k, json) => mapping.mapMessage(k, json).isDefined }
      Stats.secondsSince(t0)
    })

    // sinks: dedup and write on one micro-batch, each forced on its own.
    val batch = new MessageGen(shape, args.seed * 1000 + 998).next().records
    val rows = mapping.transformWithOffset(
      Pipeline.decoded(batch.toDF("key", "value", "offset"), JsonDecoder)).cache()
    val rowsIn = rows.count()
    // Timed before the deduped result is cached: the cache would answer it.
    val dedup = (1 to reps).map { _ =>
      counter.during(spark) {
        val t0 = System.nanoTime()
        UpsertSink.dedupLastWins(rows, mapping.upsertKeys.get)
          .write.format("noop").mode("overwrite").save()
        Stats.secondsSince(t0)
      }
    }
    val toWrite = UpsertSink.dedupLastWins(rows, mapping.upsertKeys.get).drop("__offset").cache()
    val rowsOut = toWrite.count()
    val cols = mapping.encoder.schema.fieldNames.toSeq
    val writes = (1 to reps).map { i =>
      val db = s"probe-$i"
      val table = StandInDb.create(db, mapping.upsertKeys.get)
      val t0 = System.nanoTime()
      // 5 writers: UpsertSink.writeBatch's fan-in.
      new JdbcSink(StandInDb.url(db), new java.util.Properties).write(mapping, cols, toWrite, 5)
      (Stats.secondsSince(t0), table)
    }
    val table = writes.last._2
    Seq(rows, toWrite).foreach(_.unpersist())

    Seq(
      Metric("sources.decode_us_per_msg", 1e6 * decodeS / msgs.size, "us"),
      Metric("tables.map_us_per_msg", 1e6 * mapS / ok.size, "us"),
      Metric("tables.dropped", ok.size - mapped, "count"),
      Metric("sinks.dedup_s", Stats.median(dedup.map(_._1)), "s"),
      Metric("sinks.dedup_rows_in", rowsIn, "count"),
      Metric("sinks.dedup_rows_out", rowsOut, "count"),
      Metric("sinks.dedup_shuffle_bytes", dedup.last._2.shuffleBytes, "bytes"),
      Metric("sinks.write_s", Stats.median(writes.map(_._1)), "s"),
      Metric("sinks.write_rows", table.rowsCommitted.get, "count"),
      Metric("sinks.write_flushes", table.flushes.get, "count"),
      Metric("sinks.write_commits", table.commits.get, "count"),
      Metric("sinks.write_connections", table.connections.get, "count"))
  }
}
