package graft

import java.sql.Timestamp
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.sinks.InMemorySink
import graft.streaming.{LocalCheckpointFileManager, Pipeline}
import graft.tables.{GenericFloat, JsonMap}

/** Wall-clock-dependent tests: excluded from the default run (build.sbt
  * passes `-l graft.tags.WallClock`) because micro-batch overhead under
  * load can exceed any short real-time timeout. A plain `testOnly -- -n`
  * cannot override the exclusion (sbt merges both, exclusion wins) — run
  * them by replacing the setting:
  * {{{
  * sbt 'set Test/testOptions := Seq(Tests.Argument(TestFrameworks.ScalaTest,
  *      "-n", "graft.tags.WallClock")); testOnly graft.StreamingSpec'
  * }}} */
object WallClockTest extends org.scalatest.Tag("graft.tags.WallClock")

/** Structured Streaming behaviors (SURVEY.md §2.4 Streaming row): the full
  * source→decode→transform→upsert pipeline, watermarked windows, stream
  * dedup, session windows, watermarked stream-stream interval joins, and
  * custom state via flatMapGroupsWithState + all four transformWithState
  * quadrants (value/list/map state, event-time + processing-time timers). */
class StreamingSpec extends SparkTestBase {

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-ckpt").toString

  /** transformWithState requires the RocksDB state store provider; restore
    * whatever was configured afterwards. */
  private def withRocksDB(body: => Unit): Unit = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  test("p1 pipeline runs as a file stream: gate → dedup → chunk rollup matches batch") {
    // The training-data pipeline (t17 gate → exact dedup → t6 chunking →
    // rollup) over a STREAMING parquet source — the continuous-ingestion
    // form. dropDuplicates("text") keeps whichever copy arrives first, so
    // per-SOURCE splits depend on arrival order; the text-determined
    // totals (docs, chunks, tokens) are order-invariant and must equal the
    // batch pipeline's exactly.
    val dir = "/root/testdata/sf0.001"
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    // FileStreamSource ingests directories: stage the single parquet file
    // into one (the continuous-ingestion landing-zone shape).
    val landing = tmpDir()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      java.nio.file.Paths.get(s"$landing/documents.parquet"))
    val nWords = size(split(trim(lower(col("text"))), "\\s+")).cast("bigint")
    val stream = spark.readStream.schema(schema).parquet(landing)
      .filter(nWords.between(20, 80))
      .dropDuplicates("text")
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("wd"))
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, int((size(wd)-1)/24)), i -> size(slice(wd, i*24+1, 32)))"))
        .as(Seq("chunk_idx", "chunk_tokens")))
      .groupBy()
      // distinct aggregation is unsupported on streams: count docs via the
      // first-chunk indicator (every gated doc has >= 20 words => >= 1 chunk).
      .agg(sum(when(col("chunk_idx") === 0, 1L).otherwise(0L)).as("n_docs"),
        count(lit(1)).as("n_chunks"),
        sum(col("chunk_tokens").cast("bigint")).as("n_tokens"))
    val q = stream.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("p1_stream").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("p1_stream").collect()(0)
    val want = SparkEntry.queries("p1_e2e_pipeline")(spark, dir)
      .agg(sum(col("n_docs")).cast("bigint"), sum(col("n_chunks")).cast("bigint"),
        sum(col("n_tokens")).cast("bigint")).collect()(0)
    assert(got.getLong(0) == want.getLong(0), "n_docs")
    assert(got.getLong(1) == want.getLong(1), "n_chunks")
    assert(got.getLong(2) == want.getLong(2), "n_tokens")
  }

  test("dead-letter metrics: one (decoder, n_ok, n_dead) row per micro-batch, listener-reported") {
    // The operational contract behind q71_stream_dead_letters: a file
    // replay at one message per trigger produces one metrics row PER
    // BATCH (not one cumulative row), each classifying its single message
    // — the per-batch stream the reference's skip log is at message
    // granularity. The hostile line dead-letters in ITS batch only.
    val spark0 = spark
    import spark0.implicits._
    val landing = java.nio.file.Files.createTempDirectory("dlm")
    val msgs = Seq(
      """{"uid":"a","time":"2020-01-01T00:00:00Z","lat":1.0,"lon":2.0,"values":{"v":1}}""",
      "not json at all",
      """{"uid":"b","time":"2020-01-01T00:01:00Z","lat":3.0,"lon":4.0,"values":{"v":2}}""")
    msgs.zipWithIndex.foreach { case (m, i) =>
      java.nio.file.Files.write(landing.resolve(f"m$i%02d.txt"), m.getBytes("UTF-8"))
    }
    val ck = tmpDir()
    val stream = spark.readStream.option("maxFilesPerTrigger", 1).text(landing.toString)
    val sink = new InMemorySink
    val q = Pipeline.run(stream, new graft.tables.GenericFloat("dlm.t"), sink, ck)
    assert(q.awaitTermination(60000), "replay did not drain")
    val rows = Pipeline.DeadLetterMetrics.snapshot().filter(_.tag == ck)
    assert(rows.length == 3, s"one metrics row per micro-batch: $rows")
    assert(rows.forall(_.decoder == "json"))
    assert(rows.map(m => (m.nOk, m.nDead)).sorted == Seq((0L, 1L), (1L, 0L), (1L, 0L)),
      s"each batch classifies exactly its own message: $rows")
    assert(sink.size == 2, "both valid messages upserted")
  }

  test("dead-letter metrics keep only the newest MaxRows rows") {
    import Pipeline.DeadLetterMetrics
    val tag = s"bounded-${System.nanoTime()}"
    val log = java.nio.file.Files.createTempFile("dlm", ".log")
    graft.core.Log.init(log.toString) // 10 001 log lines stay out of the test output
    try (0 to DeadLetterMetrics.MaxRows).foreach { i =>
      DeadLetterMetrics.record(DeadLetterMetrics.BatchMetric(tag, i.toLong, "json", 1L, 0L))
    } finally {
      graft.core.Log.close()
      java.nio.file.Files.delete(log)
    }
    val rows = DeadLetterMetrics.snapshot()
    assert(rows.length == DeadLetterMetrics.MaxRows)
    assert(rows.map(_.batchId) == (1 to DeadLetterMetrics.MaxRows).map(_.toLong),
      "the oldest row (batch 0) is dropped, the rest kept oldest-first")
    assert(rows.forall(_.tag == tag))
  }

  test("end-to-end: memory stream → JsonMap → upsert sink") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    stream.addData((0 until 10).map(i =>
      s"""{"uid":"s$i","seq":$i,"values":{"depth":${i * 1.5},"ok":true}}"""): _*)
    val mapping = new JsonMap("stream.topic")
    val sink = new InMemorySink
    val q = Pipeline.run(stream.toDF(), mapping, sink, tmpDir())
    q.awaitTermination(60000)
    assert(sink.size == 10)
  }

  /** The class of the checkpoint manager `q`'s offsets log writes through. */
  private def managerOf(q: org.apache.spark.sql.streaming.StreamingQuery): String = {
    val exec = q.getClass.getMethod("streamingQuery").invoke(q)
    val log = exec.getClass.getMethod("offsetLog").invoke(exec)
    log.getClass.getMethod("fileManager").invoke(log).getClass.getName
  }

  private val checkpointManagerKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val sparkManagers = "org.apache.spark.sql.execution.streaming.checkpointing."

  /** Starts [[Pipeline.run]] on the local checkpoint `ckpt` over a
    * MemoryStream, then runs `n` micro-batches inside `around`: one message
    * per batch, each drained before the next is added. The query's start,
    * which creates the checkpoint's directories and metadata file, runs
    * before `around`. */
  private def runBatches(n: Int, ckpt: String)(around: (() => Unit) => Unit): Unit = {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    val sink = new InMemorySink
    val q = Pipeline.run(stream.toDF(), new JsonMap("batches.topic"), sink, ckpt,
      trigger = Trigger.ProcessingTime(0))
    try around { () =>
      (0 until n).foreach { i =>
        stream.addData(s"""{"uid":"u$i"}""")
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(sink.size == n)
    assert(Pipeline.DeadLetterMetrics.snapshot().filter(_.tag == ckpt).map(_.batchId) ==
      (0 until n).map(_.toLong))
  }

  test("local checkpoints start on the FileSystem manager; the session conf is left as found") {
    // Spark's checkpoint managers fork `readlink` (FileContext) or `chmod`
    // (FileSystem) per log write on a host without libhadoop; run() starts
    // local checkpoints on graft's LocalCheckpointFileManager instead, but
    // only around start(): the session's own setting, set or unset, is what
    // remains, and a manager the user names is the one the query runs on.
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = checkpointManagerKey
    def runOne(): String = {
      val stream = MemoryStream[String]
      stream.addData("""{"uid":"a"}""")
      val sink = new InMemorySink
      val q = Pipeline.run(stream.toDF(), new JsonMap("ckpt.topic"), sink, tmpDir())
      assert(q.awaitTermination(60000), "stream did not drain")
      assert(sink.size == 1)
      managerOf(q)
    }
    assert(spark.conf.getOption(key).isEmpty, s"$key set before the test")
    assert(runOne() == classOf[LocalCheckpointFileManager].getName)
    assert(spark.conf.getOption(key).isEmpty, s"run() left $key set")

    val userManager = sparkManagers + "FileContextBasedCheckpointFileManager"
    spark.conf.set(key, userManager)
    try {
      assert(runOne() == userManager, "the user's checkpoint manager must be the one used")
      assert(spark.conf.getOption(key).contains(userManager))
    } finally spark.conf.unset(key)
  }

  test("local checkpoint logs are written without forking a process") {
    // Without libhadoop, Hadoop's LocalFileSystem sets the permissions of
    // every file it creates, and of its .crc sidecar, by exec'ing `chmod`:
    // four forks per micro-batch for the offsets/ and commits/ logs on
    // Spark's FileSystem manager. JFR records each fork as a
    // jdk.ProcessStart event with its command line. The recording covers
    // the batches only: the log directories are made once, at query start.
    import scala.jdk.CollectionConverters._
    val ckpt = tmpDir()
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    runBatches(3, ckpt) { batches => rec.start(); try batches() finally rec.stop() }
    val dump = java.nio.file.Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.dump(dump)
      val forks = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
        .filter(_.contains(ckpt))
      assert(forks.isEmpty, s"${forks.size} forks name the checkpoint: ${forks.take(4)}")
    } finally {
      rec.close()
      java.nio.file.Files.delete(dump)
    }
  }

  test("a micro-batch is one SQL execution and one Spark job") {
    // The batch reads its frame from the plan's RDD: no second SQL
    // execution (a Dataset.rdd deserialize plan) runs under the batch's own.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val executions = new java.util.concurrent.atomic.AtomicInteger
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => executions.incrementAndGet()
        case _ =>
      }
    }
    val sc = spark.sparkContext
    val n = 3
    runBatches(n, tmpDir()) { batches =>
      org.apache.spark.graft.ListenerBus.drain(sc)
      sc.addSparkListener(counter)
      try { batches(); org.apache.spark.graft.ListenerBus.drain(sc) }
      finally sc.removeSparkListener(counter)
    }
    assert(executions.get == n, s"${executions.get} SQL executions over $n batches")
    assert(jobs.get == n, s"${jobs.get} jobs over $n batches")
  }

  test("a checkpoint written by Spark's FileSystem manager restarts on graft's") {
    // Two batches under Spark's manager, named by the user, leave .crc
    // sidecars in the logs; the restart runs on graft's manager, runs the
    // third batch once and replays neither committed batch.
    val landing = tmpDir(); val ckpt = tmpDir()
    def land(i: Int): Unit = java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$landing/part$i.json"), s"""{"uid":"u$i"}""".getBytes("UTF-8"))
    def exists(rel: String) = new java.io.File(s"$ckpt/$rel").exists
    val mapping = new JsonMap("upgrade.topic")
    val sink = new InMemorySink // append mapping: a replayed batch adds rows
    def runOne(): String = {
      val q = Pipeline.run(spark.readStream.option("maxFilesPerTrigger", "1").text(landing),
        mapping, sink, ckpt)
      assert(q.awaitTermination(60000), "stream did not drain")
      managerOf(q)
    }
    land(0); land(1)
    val sparkManager = sparkManagers + "FileSystemBasedCheckpointFileManager"
    spark.conf.set(checkpointManagerKey, sparkManager)
    try assert(runOne() == sparkManager)
    finally spark.conf.unset(checkpointManagerKey)
    assert(exists("offsets/.1.crc") && exists("commits/.1.crc"), "Spark's manager writes sidecars")

    land(2)
    assert(runOne() == classOf[LocalCheckpointFileManager].getName)
    assert(Pipeline.DeadLetterMetrics.snapshot().filter(_.tag == ckpt).map(_.batchId) ==
      Seq(0L, 1L, 2L), "each batch runs once across the restart")
    assert(sink.size == 3)
    assert(exists("offsets/2") && exists("commits/2"))
    assert(!exists("offsets/.2.crc") && !exists("commits/.2.crc"), "graft's manager writes no sidecar")
  }

  test("graft's checkpoint manager: a rewrite over a stale .crc reads back; cancel leaves nothing") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
      FileSystemBasedCheckpointFileManager}
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = tmpDir()
    val sparkFm = new FileSystemBasedCheckpointFileManager(new Path(dir), conf)
    val graftFm = new LocalCheckpointFileManager(new Path(dir), conf)
    def write(fm: CheckpointFileManager, name: String, text: String): Unit = {
      val out = fm.createAtomic(new Path(dir, name), overwriteIfPossible = true)
      out.write(text.getBytes("UTF-8"))
      out.close()
    }
    def listing = new java.io.File(dir).list().toSeq.sorted
    write(sparkFm, "0", "v1")
    assert(listing == Seq(".0.crc", "0"))
    // A sidecar outlives its file when a tool unaware of sidecars deletes
    // the file. ChecksumFileSystem.rename deletes the destination's sidecar
    // when the source has none; a stale one would fail the read back.
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "0"))
    write(graftFm, "0", "v1 rewritten")
    assert(listing == Seq("0"))
    val in = graftFm.open(new Path(dir, "0"))
    try assert(new String(in.readAllBytes(), "UTF-8") == "v1 rewritten") finally in.close()

    val out = graftFm.createAtomic(new Path(dir, "1"), overwriteIfPossible = false)
    out.write("never committed".getBytes("UTF-8"))
    out.cancel()
    assert(listing == Seq("0"), "cancel() must leave neither the temp file nor the final file")
  }

  test("graft's checkpoint manager: an overwrite over an existing local file replaces it") {
    import org.apache.hadoop.fs.Path
    val dir = tmpDir()
    val fm = new LocalCheckpointFileManager(new Path(dir), spark.sparkContext.hadoopConfiguration)
    def write(text: String, overwrite: Boolean): Unit = {
      val out = fm.createAtomic(new Path(dir, "0"), overwriteIfPossible = overwrite)
      out.write(text.getBytes("UTF-8"))
      out.close()
    }
    def listing = new java.io.File(dir).list().toSeq.sorted
    write("first", overwrite = false)
    // The local file system Hadoop resolves here can refuse a rename onto
    // an existing file and report it only as `false`; an overwrite must
    // still land the new bytes and leave no temp file behind.
    write("second", overwrite = true)
    assert(listing == Seq("0"))
    def read = {
      val in = fm.open(new Path(dir, "0"))
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    assert(read == "second")
    // Without overwrite, an existing file stays, Spark's error is raised
    // and the temp file goes.
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException](write("third", overwrite = false))
    assert(listing == Seq("0"))
    assert(read == "second")
  }

  test("end-to-end: msgpack-framed stream → GenericFloat → upsert sink") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.PyJson
    import graft.sources.MsgpackDecoder
    val msgs = Seq(
      """{"uid":"m1","time":"2020-01-01T00:00:00Z","lat":10.0,"lon":20.0,"values":{"speed":1}}""",
      """{"uid":"m2","time":"2020-01-01T00:01:00Z","lat":11.0,"lon":21.0,"values":{"speed":2}}""")
    val stream = MemoryStream[Array[Byte]]
    stream.addData(msgs.map(m => MsgpackDecoder.encode(PyJson.parse(m))): _*)
    val mapping = new GenericFloat("stream.msgpack")
    val sink = new InMemorySink
    Pipeline.run(stream.toDF(), mapping, sink, tmpDir(), decoder = MsgpackDecoder)
      .awaitTermination(60000)
    assert(sink.size == 2)
    val uids = sink.table.values.map(_.head).toSet // uid is the first column
    assert(uids == Set("m1", "m2"))
  }

  test("end-to-end: upsert across two micro-batches updates in place") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val msg = (speed: String) =>
      s"""{"uid":"A","time":"2020-01-01T00:00:00Z","lat":10.0,"lon":20.0,"values":{"speed":"$speed"}}"""
    val mapping = new GenericFloat("stream.floats")
    val sink = new InMemorySink
    val ckpt = tmpDir()

    val s1 = MemoryStream[String]
    s1.addData(msg("1"))
    Pipeline.run(s1.toDF(), mapping, sink, ckpt).awaitTermination(60000)
    assert(sink.size == 1)

    val s2 = MemoryStream[String]
    s2.addData(msg("2"))
    Pipeline.run(s2.toDF(), mapping, sink, tmpDir()).awaitTermination(60000)
    assert(sink.size == 1, "second batch must upsert, not append")
    val valuesIdx = mapping.encoder.schema.fieldNames.indexOf("values")
    assert(sink.table.values.head(valuesIdx).asInstanceOf[Map[String, String]]("speed") == "2")
  }

  test("p5: shuffled full redelivery converges to the ordered-replay table") {
    // The out-of-order at-least-once case p3 does not cover: a rewound
    // consumer redelivers every m4 geography message in a DIFFERENT
    // interleaving. Keys are distinct per message, so the K2 last-wins
    // contract makes the table order-free — the sink after ordered replay
    // and the sink after ordered + shuffled redelivery must be EQUAL, row
    // for row, geometry included.
    val mapping = new graft.tables.GenericGeography("topic")
    val msgs = graft.sources.FileReplay.messages(
      "/root/reference/tests/scuttle-watch-regions.json")
    def run(sink: InMemorySink, order: Seq[Int]): Unit = {
      val landing = java.nio.file.Files.createTempDirectory("p5spec")
      order.zipWithIndex.foreach { case (mi, i) =>
        java.nio.file.Files.write(landing.resolve(f"msg$i%03d.txt"),
          msgs(mi).getBytes("UTF-8"))
      }
      val q = Pipeline.run(
        spark.readStream.option("maxFilesPerTrigger", 1).text(landing.toString),
        mapping, sink, tmpDir())
      assert(q.awaitTermination(60000), "p5 spec stream did not drain")
    }
    val ordered = new InMemorySink
    run(ordered, msgs.indices)
    val redelivered = new InMemorySink
    run(redelivered, msgs.indices)
    val perm = new scala.util.Random(11).shuffle(msgs.indices.toList)
    assert(perm != msgs.indices.toList)
    run(redelivered, perm)
    assert(redelivered.table.size == ordered.table.size)
    ordered.table.foreach { case (k, v) =>
      assert(redelivered.table.get(k).contains(v),
        s"key $k diverged after shuffled redelivery")
    }
  }

  test("watermarked tumbling window matches batch equivalent") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Tables.events(spark, sf)
      .select($"ts", $"event_type").as[(Timestamp, String)].collect().toSeq

    val stream = MemoryStream[(Timestamp, String)]
    stream.addData(events: _*)
    val agg = stream.toDF().toDF("ts", "event_type")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("win_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val streamed = spark.sql("SELECT window.start AS ws, event_type, n FROM win_out")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val batch = Tables.events(spark, sf)
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"window.start", $"event_type", $"n")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch)
  }

  test("dropDuplicatesWithinWatermark dedups repeated keys") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = new Timestamp(1700000000000L)
    val stream = MemoryStream[(Timestamp, String)]
    stream.addData((base, "a"), (base, "a"), (new Timestamp(base.getTime + 1000), "b"),
      (base, "a"), (new Timestamp(base.getTime + 2000), "b"))
    val dedup = stream.toDF().toDF("ts", "k")
      .withWatermark("ts", "1 minute")
      .dropDuplicatesWithinWatermark("k")
    val q = dedup.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("dedup_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.sql("SELECT k FROM dedup_out").collect().map(_.getString(0)).sorted.toSeq == Seq("a", "b"))
  }

  test("stream-stream interval join: clicks attach to the view within the hour") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = new Timestamp(1700000000000L)
    def at(min: Long) = new Timestamp(base.getTime + min * 60000L)

    // views(user, vts) ⋈ clicks(user, cts) with vts ≤ cts ≤ vts + 1h: the
    // canonical watermarked interval join — both sides keep bounded state
    // (Spark derives the state retention from the watermark + bound).
    val views = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp)]
    views.addData((1L, at(0)), (2L, at(5)), (3L, at(10)))
    clicks.addData((1L, at(30)), (2L, at(90)), (3L, at(20)), (3L, at(65)), (9L, at(30)))

    val v = views.toDF().toDF("user", "vts").withWatermark("vts", "10 minutes")
    val c = clicks.toDF().toDF("c_user", "cts").withWatermark("cts", "10 minutes")
    val joined = v.join(c,
      expr("user = c_user AND cts >= vts AND cts <= vts + INTERVAL 1 HOUR"))
    val q = joined.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ssj_out")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(60000), "join query did not drain")

    val got = spark.sql("SELECT user, cts FROM ssj_out").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1))).toSet
    // user 2's click is 85 min after the view (outside the 1 h bound);
    // user 9 never viewed; user 3 clicks twice inside the window.
    assert(got == Set((1L, at(30)), (3L, at(20)), (3L, at(65))))
  }

  test("session_window groups by inactivity gap") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000L
    val stream = MemoryStream[(Timestamp, String)]
    // u: two sessions separated by > 30min; v: one session
    stream.addData(
      (new Timestamp(t0), "u"), (new Timestamp(t0 + 60000), "u"),
      (new Timestamp(t0 + 3 * 3600 * 1000), "u"),
      (new Timestamp(t0), "v"))
    val sessions = stream.toDF().toDF("ts", "user")
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window($"ts", "30 minutes"), $"user")
      .agg(count(lit(1)).as("n"))
    val q = sessions.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("sess_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.sql("SELECT user, n FROM sess_out").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(rows.count(_._1 == "u") == 2)
    assert(rows.filter(_._1 == "u").map(_._2).sorted.toSeq == Seq(1L, 2L))
    assert(rows.count(_._1 == "v") == 1)
  }

  test("transformWithState (Spark 4 API): last-wins state across micro-batches") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDB {
      val stream = MemoryStream[(String, Int, Long)]
      // "last" = highest stream offset, NOT iterator order: a's latest
      // offset (10) carries v=7 and arrives before the older (3, v=5).
      stream.addData(("a", 1, 1L), ("a", 7, 10L), ("a", 5, 3L), ("b", 2, 4L))
      val out = stream.toDS()
        .groupByKey(_._1)
        .transformWithState(
          new graft.streaming.LastWinsProcessor[String, Int](
            graft.streaming.StateOps.lastWinsState[Int]),
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Update())
      val q = out.toDF("k", "v").writeStream.outputMode(OutputMode.Update())
        .format("memory").queryName("tws_out")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      val rows = spark.sql("SELECT k, v FROM tws_out").collect()
        .map(r => (r.getString(0), r.getInt(1))).toMap
      assert(rows == Map("a" -> 7, "b" -> 2), s"got $rows")
    }
  }

  test("transformWithState KMV: streaming distinct matches batch exactly below k, bounded above") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDB {
      // Lossless regime: per-type distinct users over the events table,
      // streamed in two arbitrary batches — the final emission per type
      // must equal batch countDistinct (the sketch is a lossless set
      // below k, so batch boundaries cannot matter).
      val ev = Tables.events(spark, sf).filter(col("user_id").isNotNull)
        .select(col("event_type"), col("user_id"), col("event_id"))
        .as[(String, Long, Long)].collect().toSeq
      val stream = MemoryStream[(String, Long)]
      stream.addData(ev.filter(_._3 % 2 == 0).map(r => (r._1, r._2)): _*)
      stream.addData(ev.filter(_._3 % 2 == 1).map(r => (r._1, r._2)): _*)
      val out = stream.toDS().toDF("event_type", "user_id")
        .select(col("event_type"), xxhash64(col("user_id")).as("h"))
        .as[(String, Long)]
        .groupByKey(_._1)
        .transformWithState(new graft.streaming.KmvDistinctProcessor[String](1024),
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
      val q = out.toDF("event_type", "ndv", "n_kept")
        .writeStream.outputMode(OutputMode.Update())
        .format("memory").queryName("kmv_out")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      // Update mode re-emits per batch; the running estimate is monotone
      // in the lossless regime, so max per key is the final value.
      val got = spark.sql("SELECT event_type, max(ndv) FROM kmv_out GROUP BY 1")
        .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
      val exact = Tables.events(spark, sf).filter(col("user_id").isNotNull)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).cast("double").as("c"))
        .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
      assert(got == exact, s"streamed $got != batch $exact")

      // Bounded-state regime: 5,000 distinct values through k=64 — state
      // must cap at 64 longs and the estimate stay within the (loose)
      // 4-sigma band. This is the contract dropDuplicates cannot offer:
      // its state grows with stream cardinality, the sketch's does not.
      val wide = MemoryStream[(String, Long)]
      wide.addData((0 until 2500).map(i => ("k", i.toLong)): _*)
      wide.addData((2500 until 5000).map(i => ("k", i.toLong)): _*)
      val out2 = wide.toDS().toDF("key", "v")
        .select(col("key"), xxhash64(col("v")).as("h"))
        .as[(String, Long)]
        .groupByKey(_._1)
        .transformWithState(new graft.streaming.KmvDistinctProcessor[String](64),
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
      val q2 = out2.toDF("key", "ndv", "n_kept")
        .writeStream.outputMode(OutputMode.Update())
        .format("memory").queryName("kmv_wide")
        .trigger(Trigger.AvailableNow()).start()
      q2.awaitTermination(60000)
      val last = spark.sql(
        "SELECT max(ndv), max(n_kept) FROM kmv_wide WHERE n_kept = 64").collect()(0)
      assert(last.getInt(1) == 64, "state must cap at k entries")
      assert(math.abs(last.getDouble(0) - 5000) / 5000.0 < 0.5,
        s"saturated streaming estimate ${last.getDouble(0)} vs 5000")
      // Stronger than the error band: KMV is a set union — merge-order
      // INVARIANT — so even saturated, the streamed estimate must equal
      // the batch aggregate over the same rows bit-for-bit.
      val batchEst = spark.range(5000)
        .select(xxhash64(col("id")).as("h"))
        .agg(udaf(graft.functions.Sketches.KmvSketch(64)).apply(col("h")).as("sk"))
        .select(graft.functions.Sketches.kmvNdv(col("sk"), 64))
        .collect()(0).getDouble(0)
      assert(last.getDouble(0) == batchEst,
        s"streamed ${last.getDouble(0)} != batch $batchEst on the same sketch")

      // Regression (r12 buffer right-sizing): a restored state LARGER than
      // the initial scratch allocation (1024) must grow, not overflow —
      // 3,000 distinct keys land in batch 1, so batch 2's restore replays
      // a 3,000-entry sketch into a fresh 1,024-slot buffer. Below
      // k=16384 the final estimate stays exact.
      val big = MemoryStream[(String, Long)]
      big.addData((0 until 3000).map(i => ("k", i.toLong)): _*)
      big.addData((3000 until 3500).map(i => ("k", i.toLong)): _*)
      val out3 = big.toDS().toDF("key", "v")
        .select(col("key"), xxhash64(col("v")).as("h"))
        .as[(String, Long)]
        .groupByKey(_._1)
        .transformWithState(new graft.streaming.KmvDistinctProcessor[String](16384),
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
      val q3 = out3.toDF("key", "ndv", "n_kept")
        .writeStream.outputMode(OutputMode.Update())
        .format("memory").queryName("kmv_big")
        .trigger(Trigger.AvailableNow()).start()
      q3.awaitTermination(60000)
      val big2 = spark.sql("SELECT max(ndv) FROM kmv_big").collect()(0).getDouble(0)
      assert(big2 == 3500.0, s"restored-state streaming distinct $big2 != 3500")
    }
  }

  test("transformWithState profile: streaming column stats match batch exactly below k") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDB {
      // q63's summary maintained continuously: per-flag count/nulls/range/
      // NDV over a nullable l_partkey projection, streamed in two
      // arbitrary batches — the final emission must equal the batch
      // profile of the same rows (counts/min/max exact at any size, NDV
      // exact below k). Nulls are injected deterministically so the
      // per-column null path is exercised.
      val src = Tables.lineitem(spark, sf)
        .withColumn("v",
          when(col("l_linenumber") % 3 =!= 0, col("l_partkey").cast("double")))
        .select(col("l_returnflag"), col("v"),
          when(col("v").isNotNull, xxhash64(col("v"))).as("h"), col("l_orderkey"))
      val data = src.as[(String, Option[Double], Option[Long], Long)].collect().toSeq
      val stream = MemoryStream[(String, Option[Double], Option[Long])]
      stream.addData(data.filter(_._4 % 2 == 0).map(t => (t._1, t._2, t._3)): _*)
      stream.addData(data.filter(_._4 % 2 == 1).map(t => (t._1, t._2, t._3)): _*)
      val out = stream.toDS()
        .groupByKey(_._1)
        .transformWithState(new graft.streaming.ProfileProcessor[String](16384),
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
      val q = out.toDF("flag", "n_rows", "n_null", "ndv", "mn", "mx")
        .writeStream.outputMode(OutputMode.Update())
        .format("memory").queryName("profile_out")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      // Update mode emits a running profile per batch; n_rows is strictly
      // increasing, so the final state per key is its max-n_rows row.
      val got = spark.sql(
        """SELECT flag, max_by(n_null, n_rows), max(n_rows), max_by(ndv, n_rows),
          |       max_by(mn, n_rows), max_by(mx, n_rows)
          |FROM profile_out GROUP BY 1""".stripMargin)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
      val exact = src.groupBy(col("l_returnflag"))
        .agg(sum(when(col("v").isNull, 1L).otherwise(0L)).as("nn"),
          count(lit(1)).as("n"),
          countDistinct(col("v")).cast("double").as("ndv"),
          min(col("v")).as("mn"), max(col("v")).as("mx"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
      assert(got == exact, s"streamed profile $got != batch $exact")
    }
  }

  test("transformWithState pct: streaming quantiles match batch exactly below cap, bounded above") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDB {
      // Lossless regime: per-flag partkey quantiles over lineitem, streamed
      // in two arbitrary batches — the final emission per flag must equal
      // the batch `percentile` doubles exactly (below cap the state is the
      // full multiset, so batch boundaries cannot matter).
      val li = Tables.lineitem(spark, sf)
        .select(col("l_returnflag"), col("l_partkey").cast("double"), col("l_orderkey"))
        .as[(String, Double, Long)].collect().toSeq
      val stream = MemoryStream[(String, Double)]
      stream.addData(li.filter(_._3 % 2 == 0).map(r => (r._1, r._2)): _*)
      stream.addData(li.filter(_._3 % 2 == 1).map(r => (r._1, r._2)): _*)
      val out = stream.toDS()
        .groupByKey(_._1)
        .transformWithState(
          new graft.streaming.PctQuantileProcessor[String](4096, Array(0.5, 0.9)),
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
      val q = out.toDF("flag", "qs", "n")
        .writeStream.outputMode(OutputMode.Update())
        .format("memory").queryName("pct_out")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      // Update mode re-emits per batch; the row with the key's max running
      // count is the final state.
      val got = spark.sql(
        """SELECT flag, qs[0], qs[1] FROM pct_out o
          |WHERE n = (SELECT max(n) FROM pct_out i WHERE i.flag = o.flag)""".stripMargin)
        .collect().map(r => (r.getString(0), (r.getDouble(1), r.getDouble(2)))).toMap
      val exact = Tables.lineitem(spark, sf)
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_partkey, 0.5)").as("p50"),
          expr("percentile(l_partkey, 0.9)").as("p90"))
        .collect().map(r => (r.getString(0), (r.getDouble(1), r.getDouble(2)))).toMap
      assert(got == exact, s"streamed $got != batch $exact")

      // Bounded-state regime: 5,000 uniform values through cap=64 — the
      // stored summary must stay ~cap·log₂(n/cap), total weight must equal
      // the exact row count (compactions preserve weight), and the
      // estimate must hold the KLL band.
      val wide = MemoryStream[(String, Double)]
      wide.addData((0 until 2500).map(i => ("k", i.toDouble)): _*)
      wide.addData((2500 until 5000).map(i => ("k", i.toDouble)): _*)
      val out2 = wide.toDS()
        .groupByKey(_._1)
        .transformWithState(
          new graft.streaming.PctQuantileProcessor[String](64, Array(0.5)),
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
      val q2 = out2.toDF("key", "qs", "n")
        .writeStream.outputMode(OutputMode.Update())
        .format("memory").queryName("pct_wide")
        .trigger(Trigger.AvailableNow()).start()
      q2.awaitTermination(60000)
      val last = spark.sql("SELECT qs[0], n FROM pct_wide ORDER BY n DESC LIMIT 1")
        .collect()(0)
      assert(last.getLong(1) == 5000L, s"running count must be exact, got ${last.getLong(1)}")
      val relErr = math.abs(last.getDouble(0) - 2500.0) / 5000.0
      assert(relErr < 0.1, s"saturated streaming p50 ${last.getDouble(0)} relErr=$relErr")

      // WEIGHTED twin: quantity-weighted price quantiles per flag (q61's
      // surface) streamed in two batches — final emission must equal the
      // batch aggregate bit-for-bit (lossless below cap rows), and the
      // running count must equal total WEIGHT exactly. A zero-weight row
      // rides along to pin that it contributes nothing.
      val liw = Tables.lineitem(spark, sf)
        .select(col("l_returnflag"), col("l_extendedprice").cast("double"),
          col("l_quantity").cast("long"), col("l_orderkey"))
        .as[(String, Double, Long, Long)].collect().toSeq
      val wstream = MemoryStream[(String, Double, Long)]
      wstream.addData(liw.filter(_._4 % 2 == 0).map(r => (r._1, r._2, r._3)) :+ (("A", 9e9, 0L)): _*)
      wstream.addData(liw.filter(_._4 % 2 == 1).map(r => (r._1, r._2, r._3)): _*)
      val wout = wstream.toDS()
        .groupByKey(_._1)
        .transformWithState(
          new graft.streaming.PctQuantileWeightedProcessor[String](8192, Array(0.5, 0.9)),
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
      val qw = wout.toDF("flag", "qs", "n")
        .writeStream.outputMode(OutputMode.Update())
        .format("memory").queryName("pctw_out")
        .trigger(Trigger.AvailableNow()).start()
      qw.awaitTermination(60000)
      val gotW = spark.sql(
        """SELECT flag, qs[0], qs[1], n FROM pctw_out o
          |WHERE n = (SELECT max(n) FROM pctw_out i WHERE i.flag = o.flag)""".stripMargin)
        .collect().map(r => (r.getString(0), (r.getDouble(1), r.getDouble(2), r.getLong(3)))).toMap
      val exactW = SparkEntry.queries("q61_weighted_pct")(spark, sf)
        .collect().map(r => (r.getString(0), (r.getDouble(1), r.getDouble(2)))).toMap
      val wTotals = liw.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
      exactW.foreach { case (flag, (wp50, wp90)) =>
        val (s50, s90, sn) = gotW(flag)
        assert(s50 == wp50 && s90 == wp90,
          s"streamed weighted quantiles diverged for $flag: ($s50,$s90) vs ($wp50,$wp90)")
        assert(sn == wTotals(flag), s"running weight for $flag: $sn != ${wTotals(flag)}")
      }
    }
  }

  test("transformWithState topk: streaming heavy hitters match batch q59 exactly below cap") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDB {
      // Exact regime: per-flag partkey frequencies streamed in two
      // arbitrary batches — the final summary's top-5 must equal batch
      // q59 row-for-row (below cap no trim fires, so batch boundaries
      // cannot matter and err = 0 everywhere).
      val li = Tables.lineitem(spark, sf)
        .filter(col("l_partkey").isNotNull)
        .select(col("l_returnflag"), col("l_partkey"), col("l_orderkey"))
        .as[(String, Long, Long)].collect().toSeq
      val stream = MemoryStream[(String, Long)]
      stream.addData(li.filter(_._3 % 2 == 0).map(r => (r._1, r._2)): _*)
      stream.addData(li.filter(_._3 % 2 == 1).map(r => (r._1, r._2)): _*)
      val out = stream.toDS()
        .groupByKey(_._1)
        .transformWithState(
          new graft.streaming.TopKProcessor[String](4096),
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
      val q = out.toDF("flag", "hh", "n")
        .writeStream.outputMode(OutputMode.Update())
        .format("memory").queryName("topk_out")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      val got = spark.sql(
        """SELECT flag, posexplode(slice(hh, 1, 5)) AS (pos, e) FROM topk_out o
          |WHERE n = (SELECT max(n) FROM topk_out i WHERE i.flag = o.flag)""".stripMargin)
        .selectExpr("flag", "pos + 1 AS rk", "e.key", "e.cnt", "e.err")
        .collect().map(_.toString).sorted
      val batch = SparkEntry.queries("q59_heavy_hitters")(spark, sf)
        .collect().map(_.toString).sorted
      assert(got.sameElements(batch), s"streamed top-5 != batch q59")
      assert(got.nonEmpty)

      // Bounded regime: 30 distinct keys through cap=8, zipf-ish counts
      // (key i appears 2^(i%5)+i times). The heavy key must survive with
      // its count in [true - err, true], state ≤ cap entries.
      val wide = MemoryStream[(String, Long)]
      val rows = (0 until 30).flatMap(i => Seq.fill((1 << (i % 5)) + i)(("k", i.toLong)))
      val (wa, wb) = rows.splitAt(rows.length / 3)
      wide.addData(wa: _*); wide.addData(wb: _*)
      val out2 = wide.toDS()
        .groupByKey(_._1)
        .transformWithState(
          new graft.streaming.TopKProcessor[String](8),
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
      val q2 = out2.toDF("key", "hh", "n")
        .writeStream.outputMode(OutputMode.Update())
        .format("memory").queryName("topk_wide")
        .trigger(Trigger.AvailableNow()).start()
      q2.awaitTermination(60000)
      val fin = spark.sql("SELECT hh, n FROM topk_wide ORDER BY n DESC LIMIT 1").collect()(0)
      assert(fin.getLong(1) == rows.length.toLong, "running count must be exact")
      val hh = fin.getSeq[org.apache.spark.sql.Row](0)
      assert(hh.length <= 8, s"state must stay <= cap entries, got ${hh.length}")
      val trueTop = rows.groupBy(_._2).view.mapValues(_.size.toLong).maxBy(_._2)
      val top = hh.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .find(_._1 == trueTop._1)
      assert(top.isDefined, s"true heaviest key ${trueTop._1} must survive")
      val (_, cnt, err) = top.get
      assert(cnt <= trueTop._2 && cnt + err >= trueTop._2,
        s"count $cnt (err $err) must bracket true ${trueTop._2}")
    }
  }

  test("transformWithState band index: streaming LSH candidates cover d3's verified pairs") {
    // The MinHash banding of d3/d10 as CONTINUOUS ingestion: docs arrive in
    // two waves; every band-bucket collision — within a wave or against
    // bucket state from the earlier wave — emits a candidate pair. Batch
    // d3's final (exact-Jaccard-verified) pair set must be a subset of the
    // streamed candidates: banding recall is preserved across batch splits.
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDB {
      val rows = graft.queries.Dedup.bandRows(spark, sf)
        .select(col("band"), col("band_sig"), col("doc_id"))
        .as[(Int, Long, Long)].collect().toSeq
      val stream = MemoryStream[(Int, Long, Long)]
      stream.addData(rows.filter(_._3 % 2 == 0): _*)
      stream.addData(rows.filter(_._3 % 2 == 1): _*)
      val cands = stream.toDS()
        .map(r => ((r._1, r._2), r._3))
        .groupByKey(_._1)
        .transformWithState(new graft.streaming.BandIndexProcessor(),
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
      val q = cands.toDF("doc_a", "doc_b").writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName("band_out")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      val got = spark.sql("SELECT doc_a, doc_b FROM band_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val verified = SparkEntry.queries("d3_dedup_minhash")(spark, sf)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(verified.nonEmpty, "testdata should contain at least one J >= 0.9 pair")
      assert(verified.subsetOf(got), s"candidates missing: ${verified -- got}")
    }
  }

  test("transformWithState ListState: chunk assembly is split-invariant") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDB {
      val stream = MemoryStream[(String, Int, Long)]
      // key a: 7 values → chunks [1,2,3],[4,5,6], leftover [7] retained;
      // key b: 2 values → no chunk. Within the first add, a's offsets are
      // shuffled to prove the per-batch offset sort; across adds they are
      // batch-monotone (the Kafka-shaped contract the scaladoc states).
      stream.addData(("a", 3, 30L), ("a", 1, 10L), ("a", 2, 20L), ("a", 4, 40L))
      stream.addData(("a", 6, 60L), ("a", 5, 50L), ("a", 7, 70L), ("b", 8, 10L), ("b", 9, 20L))
      val out = stream.toDS()
        .groupByKey(_._1)
        .transformWithState(
          new graft.streaming.ChunkAssembler[String, Int](Encoders.scalaInt, 3),
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Update())
      val q = out.toDF("k", "seq", "chunk").writeStream.outputMode(OutputMode.Update())
        .format("memory").queryName("chunk_out")
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(60000), "chunk query did not drain")
      val rows = spark.sql("SELECT k, seq, chunk FROM chunk_out").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getSeq[Int](2).toList)).toSet
      assert(rows == Set(("a", 0L, List(1, 2, 3)), ("a", 1L, List(4, 5, 6))), s"got $rows")
    }
  }

  test("transformWithState sequence state: streamed transitions == batch lag pairs") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDB {
      val stream = MemoryStream[(String, String, Long)]
      // u1: view → click → click → purchase; u2: signup → view. The batch
      // boundary cuts u1 mid-sequence, and intra-batch offsets arrive
      // shuffled — both must not change the emitted step multiset.
      stream.addData(("u1", "click", 20L), ("u1", "view", 10L), ("u2", "signup", 5L))
      stream.addData(("u1", "purchase", 40L), ("u1", "click", 30L), ("u2", "view", 15L))
      val out = stream.toDS()
        .groupByKey(_._1)
        .transformWithState(
          new graft.streaming.TransitionProcessor[String](
            org.apache.spark.sql.Encoders.tuple(Encoders.scalaLong, Encoders.STRING)),
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Append())
      val q = out.toDF("prev_type", "event_type").writeStream
        .outputMode(OutputMode.Append())
        .format("memory").queryName("trans_out")
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(60000), "transition query did not drain")
      val got = spark.sql("SELECT prev_type, event_type FROM trans_out").collect()
        .map(r => (r.getString(0), r.getString(1))).toList.sorted
      // The batch e23 lag-pair multiset over the same rows.
      val expected = List(
        ("view", "click"), ("click", "click"), ("click", "purchase"), // u1
        ("signup", "view")).sorted // u2
      assert(got == expected, s"got $got")
    }
  }

  test("transformWithState MapState: per-key category tallies are monotone") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDB {
      val stream = MemoryStream[(String, String)]
      stream.addData(("u1", "click"), ("u1", "view"), ("u1", "click"))
      stream.addData(("u1", "click"), ("u2", "view"))
      val out = stream.toDS()
        .groupByKey(_._1)
        .transformWithState(
          new graft.streaming.CategoryCounts[String](Encoders.STRING),
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Update())
      val q = out.toDF("k", "cat", "n").writeStream.outputMode(OutputMode.Update())
        .format("memory").queryName("cat_out")
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(60000), "tally query did not drain")
      // Cumulative counts are monotone — the FINAL tally per (key, cat) is
      // the max, independent of how the adds were batched.
      val rows = spark.sql("SELECT k, cat, max(n) FROM cat_out GROUP BY 1, 2").collect()
        .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
      assert(rows == Map(("u1", "click") -> 3L, ("u1", "view") -> 1L, ("u2", "view") -> 1L),
        s"got $rows")
    }
  }

  test("transformWithState timers: silent key emits a staleness tombstone") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDB {
      // Event-time timers: staleness is decided by the DATA's clock via the
      // watermark, so the test is deterministic — no wall-clock sleeps.
      // Each addData block is one micro-batch; the watermark advances after
      // each batch, so a's 5-minute deadline (armed in batch 1) fires during
      // batch 3, when the watermark (t0+10min, set after batch 2) has passed
      // it. b keeps refreshing and must never go stale.
      val t0 = 1700000000000L
      def ts(offsetMs: Long) = new Timestamp(t0 + offsetMs)
      val stream = MemoryStream[(String, Int, Timestamp)]
      stream.addData(("a", 1, ts(0)), ("b", 2, ts(0)))
      stream.addData(("b", 3, ts(600000)))
      stream.addData(("b", 4, ts(1200000)))
      val out = stream.toDS()
        .withWatermark("_3", "0 seconds")
        .groupByKey(_._1)
        .transformWithState(
          new graft.streaming.StalenessProcessor[String, Int](
            graft.streaming.StateOps.lastWinsState[Int], timeoutMs = 300000L),
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          OutputMode.Update())
      val q = out.toDF("k", "v", "stale").writeStream.outputMode(OutputMode.Update())
        .format("memory").queryName("stale_out")
        .trigger(Trigger.AvailableNow()).start()
      try assert(q.awaitTermination(120000), "query did not drain within 120s")
      finally q.stop()
      val rows = spark.sql("SELECT k, v, stale FROM stale_out").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getBoolean(2)))
      assert(rows.contains(("a", 1, true)), s"expected stale tombstone for a: ${rows.toSeq}")
      assert(!rows.exists(r => r._1 == "b" && r._3), s"b refreshed, must never be stale: ${rows.toSeq}")
      assert(rows.count(_ == ("a", 1, true)) == 1, s"exactly one tombstone for a: ${rows.toSeq}")
      // The processor emits the LATEST row per key per batch (it's a
      // monitor, not a passthrough) and AvailableNow may coalesce addData
      // blocks arbitrarily — the batching-independent invariants are: b's
      // final value emitted live, and (asserted above) b never stale while
      // a tombstones exactly once.
      assert(rows.contains(("b", 4, false)), rows.toSeq)
      assert(rows.contains(("a", 1, false)), rows.toSeq)
    }
  }

  test("transformWithState ProcessingTime timers: idle key flushes its buffer",
      WallClockTest) {
    // WALL-CLOCK smoke (the third timer quadrant; event-time is the
    // deterministic test above). Non-deterministic by nature: if the
    // machine stalls longer than the idle timeout between micro-batches,
    // a flush can fire "early" — so the timeout is generous (2 s) and the
    // assertions are timing-independent invariants only: the quiet key
    // flushes exactly once with the right aggregate once kicked.
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDB {
      val stream = MemoryStream[(String, Int)]
      val out = stream.toDS()
        .groupByKey(_._1)
        .transformWithState(
          new graft.streaming.IdleFlushProcessor[String, Int](
            graft.streaming.StateOps.idleFlushState[Int], idleMs = 2000L),
          org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
          OutputMode.Update())
      val q = out.toDF("k", "v", "n").writeStream.outputMode(OutputMode.Update())
        .format("memory").queryName("idle_out")
        .trigger(Trigger.ProcessingTime(100)).start()
      try {
        // NO processAllAvailable anywhere here: with ProcessingTime timers
        // the engine keeps scheduling timer batches, `noNewData` never
        // latches, and processAllAvailable blocks forever. Poll the sink.
        stream.addData(("a", 1), ("a", 2))
        val deadline = System.currentTimeMillis() + 60000
        def flushed() = spark.sql("SELECT k, v, n FROM idle_out WHERE k = 'a'").collect()
        while (flushed().isEmpty && System.currentTimeMillis() < deadline)
          Thread.sleep(250)
        val rows = flushed().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
        assert(rows.toSeq == Seq(("a", 2, 2L)),
          s"expected one flush of a's buffer (last=2, n=2), got: ${rows.toSeq}")
      } finally q.stop()
    }
  }

  test("flatMapGroupsWithState: running max per key") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(String, Int)]
    stream.addData(("a", 1), ("a", 5), ("a", 3), ("b", 2))
    val out = stream.toDS()
      .groupByKey(_._1)
      .flatMapGroupsWithState[Int, (String, Int)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[(String, Int)], state: GroupState[Int]) =>
          val prev = state.getOption.getOrElse(Int.MinValue)
          val mx = (rows.map(_._2) ++ Iterator(prev)).max
          state.update(mx)
          Iterator((key, mx))
      }
    val q = out.toDF("k", "mx").writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("state_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.sql("SELECT k, mx FROM state_out").collect()
      .map(r => (r.getString(0), r.getInt(1))).toMap
    assert(rows == Map("a" -> 5, "b" -> 2))
  }

  test("transformWithState checkpoint recovery: RocksDB state survives a restart") {
    // The stateful complement of the crash-replay test below: stop a
    // transformWithState query after it has absorbed one file, restart it
    // from the same checkpoint with new data, and require the SECOND run's
    // emission to reflect the union — possible only if the RocksDB state
    // (one KMV sketch per key) was durably checkpointed and reloaded.
    // Values overlap across the files on purpose: a silently-reset state
    // would emit the second file's own distinct count (300), not the
    // cross-restart union (500). Below k the sketch is a lossless set, so
    // the recovered emission must be EXACTLY 500 — bit-exact continuity,
    // not an error band.
    val spark0 = spark
    import spark0.implicits._
    withRocksDB {
      val landing = tmpDir(); val ckpt = tmpDir()
      def land(name: String, vs: Range): Unit =
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$landing/$name"),
          vs.map(v => s"""{"key":"k","v":$v}""").mkString("\n").getBytes("UTF-8"))
      val schema = new org.apache.spark.sql.types.StructType()
        .add("key", org.apache.spark.sql.types.StringType)
        .add("v", org.apache.spark.sql.types.LongType)
      // The memory sink refuses checkpoint recovery (by design — it is not
      // fault-tolerant), so each phase drains through foreachBatch into a
      // per-phase driver buffer: foreachBatch IS recovery-capable, and it
      // is the production sink shape (Pipeline.run).
      def run(): Double = {
        val seen = new java.util.concurrent.CopyOnWriteArrayList[Double]()
        val out = spark.readStream.schema(schema).json(landing)
          .select(col("key"), xxhash64(col("v")).as("h"))
          .as[(String, Long)]
          .groupByKey(_._1)
          .transformWithState(new graft.streaming.KmvDistinctProcessor[String](1024),
            org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
        val q = out.toDF("key", "ndv", "n_kept")
          .writeStream.outputMode(OutputMode.Update())
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            batch.select(col("ndv")).collect().foreach(r => seen.add(r.getDouble(0)))
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination(60000)
        import scala.jdk.CollectionConverters._
        if (seen.isEmpty) -1.0 else seen.asScala.max
      }
      land("a.json", 0 until 300)
      val first = run()
      assert(first == 300.0, s"phase 1 distinct $first != 300")
      land("b.json", 200 until 500) // 100 overlap + 200 new
      val second = run()
      assert(second == 500.0,
        s"recovered state must union across the restart: got $second " +
          "(300 = state silently reset; 500 = sketch reloaded from RocksDB)")
    }
  }

  test("checkpoint recovery: a mid-batch crash replays the batch; committed batches never replay") {
    // The reference's delivery contract is at-least-once offsets +
    // idempotent ON CONFLICT upsert (listen.py:160-165, 178-186); here the
    // checkpoint plays the offset-commit role. This test drives a REAL
    // failure through the REAL write path (jdbc:graftcap: capture driver):
    //   phase 1  file part1 {A,B,C} drains clean → batch 0 committed
    //   phase 2  file part2 {D,E,F} lands; a crash-once sink kills the
    //            first non-empty partition write task-side BEFORE it
    //            writes — its rows are lost, sibling partitions may have
    //            already committed theirs (the at-least-once partial
    //            state) → the query fails, batch 1's offset is never
    //            committed
    //   phase 3  restart from the SAME checkpoint with the healthy sink →
    //            batch 1 replays in full; batch 0 must NOT replay
    // Effectively-once at the natural-key level: A/B/C bound exactly once
    // across the whole history (committed work is never redone), D/E/F all
    // present after recovery, and every flush carries the same ON CONFLICT
    // DML — the idempotence that turns the phase-2 partial prefix into a
    // harmless overwrite instead of a duplicate row.
    import scala.jdk.CollectionConverters._
    GraftCapDriver.ensureRegistered()
    val d = GraftCapDriver.reset("rec")
    val mapping = new GenericFloat("stream.recovery")
    val jdbc = new graft.sinks.JdbcSink("jdbc:graftcap:rec", new java.util.Properties)
    val landing = tmpDir(); val ckpt = tmpDir()
    def msg(uid: String) =
      s"""{"uid":"$uid","time":"2020-01-01T00:00:00Z","lat":10.0,"lon":20.0,"values":{"speed":"1"}}"""
    def land(file: String, uids: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$landing/$file"),
        uids.map(msg).mkString("\n").getBytes("UTF-8"))
    val uidIdx = mapping.encoder.schema.fieldNames.indexOf("uid")
    def boundUids(): Seq[String] =
      d.flushes.asScala.toSeq.flatMap(_._2).map(_(uidIdx).value.asInstanceOf[String])

    // phase 1 — clean drain commits batch 0
    land("part1.json", Seq("A", "B", "C"))
    Pipeline.run(spark.readStream.text(landing), mapping, jdbc, ckpt).awaitTermination(60000)
    assert(boundUids().sorted == Seq("A", "B", "C"), s"phase 1 wrote ${boundUids()}")

    // phase 2 — crash mid-batch with partial committed side effects
    land("part2.json", Seq("D", "E", "F"))
    CrashOnceSink.arm()
    val crashed = Pipeline.run(
      spark.readStream.text(landing), mapping, new CrashOnceSink(jdbc), ckpt)
    val ex = intercept[Exception] { crashed.awaitTermination(60000); crashed.stop() }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("injected mid-batch crash")),
      s"expected the injected crash, got: ${messages(ex)}")
    assert(!CrashOnceSink.isArmed, "the crash must actually have fired")
    val afterCrash = boundUids()
    assert(afterCrash.count(Set("A", "B", "C")) == 3,
      s"batch 0 must not replay on the failed attempt: $afterCrash")
    val partial = afterCrash.filter(Set("D", "E", "F"))
    assert(partial.size < 3,
      s"the crash partition's rows must be LOST on the failed attempt: $afterCrash")

    // phase 3 — restart from the same checkpoint with the healthy sink
    val nBefore = boundUids().size
    Pipeline.run(spark.readStream.text(landing), mapping, jdbc, ckpt).awaitTermination(60000)
    val all = boundUids()
    val replayed = all.drop(nBefore)
    assert(replayed.sorted == Seq("D", "E", "F"),
      s"recovery must replay exactly the uncommitted batch, got $replayed")
    assert(all.count(_ == "A") == 1 && all.count(_ == "B") == 1 && all.count(_ == "C") == 1,
      s"committed keys must never be rewritten across restarts: $all")
    // Idempotence pin: every flush in the whole history is the same ON
    // CONFLICT upsert, so the phase-2 partial state plus the phase-3
    // replay converge to one row per natural key.
    val dmls = d.flushes.asScala.toSeq.map(_._1).distinct
    assert(dmls == Seq(graft.sinks.UpsertSink.upsertDml(mapping)) &&
      dmls.head.contains("ON CONFLICT"), s"non-upsert DML in history: $dmls")
  }

  test("transformWithState SCD2: upsert-resolved stream equals batch e29 across a batch split") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1704067200L * 1000000L // 2024-01-01T00:00Z in MICROS
    val hr = 3600L * 1000000L
    // (event_id, user_id, attr, tsMicros) — u1: a,a,b,NULL,a (4 runs, one
    // run boundary falls ON the batch split); u2: x,x (one run).
    val rows = Seq(
      (1L, 1L, Some("a"), base + 1 * hr), (2L, 1L, Some("a"), base + 2 * hr),
      (3L, 1L, Some("b"), base + 3 * hr), (4L, 1L, None, base + 4 * hr),
      (5L, 1L, Some("a"), base + 5 * hr),
      (6L, 2L, Some("x"), base + 1 * hr), (7L, 2L, Some("x"), base + 6 * hr))
    // Batch e29 over the same rows (nanos-vintage events parquet).
    val dir = tmpDir()
    rows.map { case (id, u, a, ts) => (id, a.orNull, ts * 1000L, 1.0, u) }
      .toDF("event_id", "event_type", "ts", "value", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val expected = SparkEntry.queries("e29_scd2")(spark, dir).collect().map { r =>
      (r.getLong(0), r.getLong(1), Option(r.getString(2)),
        r.getTimestamp(3).getTime * 1000L,
        Option(r.getTimestamp(4)).map(_.getTime * 1000L), r.getLong(5))
    }.toSet
    withRocksDB {
      val stream = MemoryStream[(Long, Option[String], Long, Long)]
      // per-key batch-monotone arrival; the u1 a→b change closes in batch 1,
      // the b→NULL and NULL→a changes close in batch 2
      stream.addData(rows.take(3).map { case (id, u, a, ts) => (u, a, ts, id) }: _*)
      stream.addData(rows.drop(3).map { case (id, u, a, ts) => (u, a, ts, id) }: _*)
      val out = stream.toDS()
        .groupByKey(_._1)
        .transformWithState(new graft.streaming.Scd2Processor[Long](),
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Update())
      val q = out.toDF("user_id", "ver", "attr", "valid_from", "valid_to", "n_events")
        .writeStream.outputMode(OutputMode.Update())
        .format("memory").queryName("scd2_out")
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(60000), "scd2 query did not drain")
      // Last-wins upsert on (user, ver): a closed emission supersedes the
      // open-run snapshots of the same version; an open run's latest
      // snapshot carries its max n_events.
      val got = spark.sql("SELECT * FROM scd2_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)),
          r.getLong(3), if (r.isNullAt(4)) None else Some(r.getLong(4)), r.getLong(5)))
        .groupBy(t => (t._1, t._2)).values.map { emissions =>
          emissions.find(_._5.isDefined).getOrElse(emissions.maxBy(_._6))
        }.toSet
      assert(got == expected, s"streamed $got\n!= batch $expected")
    }
  }

  /** Two-phase rate-limit runner (the checkpoint-recovery pattern: a
    * MemoryStream folds every pre-start addData into ONE micro-batch, so
    * real batch boundaries need a restartable source + checkpoint). Lands
    * each wave as a json file, drains through foreachBatch, returns the
    * final per-key emission rows. */
  private def rateLimitPhases(win: Long, limit: Int,
      waves: Seq[Seq[(Long, Long)]]): Map[Long, (Long, Long, Long, Long)] = {
    val spark0 = spark
    import spark0.implicits._
    val landing = tmpDir(); val ckpt = tmpDir()
    val schema = new org.apache.spark.sql.types.StructType()
      .add("user_id", org.apache.spark.sql.types.LongType)
      .add("t", org.apache.spark.sql.types.LongType)
    val last = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long, Long, Long)]()
    def run(): Unit = {
      val out = spark.readStream.schema(schema).json(landing)
        .as[(Long, Long)]
        .groupByKey(_._1)
        .transformWithState(
          new graft.streaming.RateLimitProcessor[Long](win, limit),
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
      val q = out.toDF("user_id", "max_burst", "n_breach", "first_breach", "n_late")
        .writeStream.outputMode(OutputMode.Update())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.collect().foreach(r => last.put(r.getLong(0),
            (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
        }
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(60000), "rate-limit query did not drain")
    }
    waves.zipWithIndex.foreach { case (wave, i) =>
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$landing/wave$i.json"),
        wave.map { case (u, t) => s"""{"user_id":$u,"t":$t}""" }
          .mkString("\n").getBytes("UTF-8"))
      run()
    }
    import scala.jdk.CollectionConverters._
    last.asScala.toMap
  }

  test("transformWithState rate limit: streamed audit equals batch e31 across a time-split") {
    val spark0 = spark
    import spark0.implicits._
    // The real corpus, split into two batch-monotone waves at the median
    // ts — the contract under which the processor promises batch parity.
    val ev = Tables.events(spark, sf)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("t"))
      .as[(Long, Long)].collect().sortBy(_._2)
    val split = ev(ev.length / 2)._2
    val expected = SparkEntry.queries("e31_rate_limit")(spark, sf)
      .select(col("user_id"), col("max_in_6h"), col("n_breach_events"),
        coalesce(unix_micros(col("first_breach_ts")), lit(-1L)))
      .as[(Long, Long, Long, Long)].collect().toSet
    withRocksDB {
      // wave 1 strictly below the split ts, wave 2 at-or-after: a peer
      // group never straddles the boundary (the documented edge)
      val got = rateLimitPhases(21600L * 1000000L, 4,
        Seq(ev.filter(_._2 < split).toSeq, ev.filter(_._2 >= split).toSeq))
      assert(got.values.forall(_._4 == 0L), "no late rows under monotone waves")
      val gotSet = got.map { case (u, (mb, nb, fb, _)) => (u, mb, nb, fb) }.toSet
      assert(gotSet == expected, s"streamed ${gotSet.size} rows != batch e31")
    }
  }

  test("rate limit processor: late events are counted, never miscounted") {
    withRocksDB {
      val hr = 3600L * 1000000L
      // 1*hr in wave 2 is older than the key's high-water mark (11h) —
      // windowing it exactly would need already-trimmed state, so it is
      // reported late; in-window events 10,11,12 ⇒ burst 3, breach at 12h.
      val got = rateLimitPhases(6L * hr, 3, Seq(
        Seq((1L, 10 * hr), (1L, 11 * hr)),
        Seq((1L, 1 * hr), (1L, 12 * hr))))
      assert(got(1L) == ((3L, 1L, 12 * hr, 1L)), got.toString)
    }
  }

  /** Sessionize runner (the [[rateLimitPhases]] checkpoint-recovery
    * pattern): each wave of (user_id, tsMicros, seq) rows lands as a json
    * file and the query RESTARTS per wave, so every wave is both a real
    * micro-batch boundary and a state-store recovery. Emissions fold
    * last-wins by (user, session_id) — the upsert-sink contract the
    * processor's Update-mode output is designed for. */
  private def sessionizePhases(waves: Seq[Seq[(Long, Long, Long)]])
      : Map[(Long, Long), (Long, Long, Long, Long)] = {
    val landing = tmpDir(); val ckpt = tmpDir()
    val schema = new org.apache.spark.sql.types.StructType()
      .add("user_id", org.apache.spark.sql.types.LongType)
      .add("t", org.apache.spark.sql.types.LongType)
      .add("seq", org.apache.spark.sql.types.LongType)
    val last = new java.util.concurrent.ConcurrentHashMap[(Long, Long), (Long, Long, Long, Long)]()
    def run(): Unit = {
      val spark0 = spark
      import spark0.implicits._
      val out = spark.readStream.schema(schema).json(landing)
        .as[(Long, Long, Long)]
        .groupByKey(_._1)
        .transformWithState(new graft.streaming.SessionizeProcessor[Long](),
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
      val q = out.toDF("user_id", "session_id", "n_events", "start", "end", "n_late")
        .writeStream.outputMode(OutputMode.Update())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.collect().foreach(r => last.put((r.getLong(0), r.getLong(1)),
            (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
        }
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(60000), "sessionize query did not drain")
    }
    waves.zipWithIndex.foreach { case (wave, i) =>
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$landing/wave$i.json"),
        wave.map { case (u, t, sq) => s"""{"user_id":$u,"t":$t,"seq":$sq}""" }
          .mkString("\n").getBytes("UTF-8"))
      run()
    }
    import scala.jdk.CollectionConverters._
    last.asScala.toMap
  }

  test("sessionize processor equals batch e3 on the real corpus across restart waves") {
    val spark0 = spark
    import spark0.implicits._
    // The real corpus in three ts-monotone waves; the middle boundary is
    // re-split to the NEXT distinct ts so equal-ts peers stay in a tercile
    // only when that is their natural position (equal-ts straddling is
    // allowed by the contract, but boundaries here exercise mid-session
    // and cross-session seams on real data either way).
    val ev = Tables.events(spark, sf)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("t"), col("event_id"))
      .as[(Long, Long, Long)].collect().sortBy(r => (r._2, r._3))
    val (s1, s2) = (ev(ev.length / 3)._2, ev(2 * ev.length / 3)._2)
    val expected = SparkEntry.queries("e3_sessionize")(spark, sf)
      .select(col("user_id"), col("session_id"), col("n_events"),
        unix_micros(col("session_start")), unix_micros(col("session_end")))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    withRocksDB {
      val got = sessionizePhases(Seq(
        ev.filter(_._2 < s1).toSeq,
        ev.filter(e => e._2 >= s1 && e._2 < s2).toSeq,
        ev.filter(_._2 >= s2).toSeq))
      assert(got.values.forall(_._4 == 0L), "no late rows under monotone waves")
      val gotSet = got.map { case ((u, sid), (n, st, en, _)) => (u, sid, n, st, en) }.toSet
      assert(gotSet == expected,
        s"streamed ${gotSet.size} sessions != batch ${expected.size}")
    }
  }

  test("sessionize processor: equal-ts seam extends the session; older rows are late") {
    withRocksDB {
      val min = 60L * 1000000L
      // Wave 1 leaves u1's session at hwm 100min. Wave 2: an equal-ts row
      // EXTENDS the session (gap 0 ≤ 30min, the batch rule); a 10min row is
      // below the hwm — replaying it against a possibly-superseded session
      // is unsound, so it must count as late, never re-session. A 150min
      // row then opens session 2 (gap 50min > 30min).
      val got = sessionizePhases(Seq(
        Seq((1L, 100 * min, 1L)),
        Seq((1L, 100 * min, 2L), (1L, 10 * min, 3L), (1L, 150 * min, 4L))))
      assert(got((1L, 1L)) == ((2L, 100 * min, 100 * min, 1L)),
        s"session 1 must hold both equal-ts events and the late count: $got")
      assert(got((1L, 2L))._1 == 1L && got((1L, 2L))._2 == 150 * min, got.toString)
      // n_late is per-session: session 1 absorbed the drop above, so the
      // fresh session must open at 0 (summing n_late over the table is
      // then exact, not double-counted).
      assert(got((1L, 2L))._4 == 0L,
        s"new session must not inherit the previous session's late count: $got")
    }
  }

  /** Two-phase dedup runner (same checkpoint-recovery pattern as
    * [[rateLimitPhases]]): each wave of (fingerprint, doc_id) rows lands as
    * a json file, drains through foreachBatch with the query RESTARTED per
    * wave, and the last emission per key wins — the upsert-sink contract. */
  private def dedupPhases(waves: Seq[Seq[(Long, Long)]]): Map[Long, (Long, Long)] = {
    val landing = tmpDir(); val ckpt = tmpDir()
    val schema = new org.apache.spark.sql.types.StructType()
      .add("fp", org.apache.spark.sql.types.LongType)
      .add("doc_id", org.apache.spark.sql.types.LongType)
    val last = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long)]()
    def run(): Unit = {
      val spark0 = spark
      import spark0.implicits._
      val out = spark.readStream.schema(schema).json(landing)
        .as[(Long, Long)]
        .groupByKey(_._1)
        .transformWithState(
          new graft.streaming.DedupProcessor[Long](),
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
      val q = out.toDF("fp", "keep_id", "n_copies")
        .writeStream.outputMode(OutputMode.Update())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.collect().foreach(r =>
            last.put(r.getLong(0), (r.getLong(1), r.getLong(2))))
        }
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(60000), "dedup query did not drain")
    }
    waves.zipWithIndex.foreach { case (wave, i) =>
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$landing/wave$i.json"),
        wave.map { case (fp, id) => s"""{"fp":$fp,"doc_id":$id}""" }
          .mkString("\n").getBytes("UTF-8"))
      run()
    }
    import scala.jdk.CollectionConverters._
    last.asScala.toMap
  }

  test("transformWithState dedup: streamed last-wins equals batch d1 under an arbitrary split") {
    val spark0 = spark
    import spark0.implicits._
    // The real corpus keyed by the 64-bit content fingerprint. keep = min
    // and n = count are order-free merges, so unlike the rate-limit twin
    // the waves need NO time ordering — split by doc_id parity on purpose.
    val docs = Tables.validDocuments(spark, sf)
      .select(xxhash64(col("text")).as("fp"), col("doc_id"))
      .as[(Long, Long)].collect()
    val expected = docs.groupBy(_._1).map { case (fp, rs) =>
      fp -> ((rs.map(_._2).min, rs.size.toLong)) }
    // The fingerprint stands in for the text ⇔ it is collision-free here;
    // d1 groups by text, so pin the two universes to the same size.
    val nTexts = SparkEntry.queries("d1_dedup_exact")(spark, sf).count()
    assert(expected.size.toLong == nTexts, "xxhash64 collided on this corpus")
    withRocksDB {
      val got = dedupPhases(Seq(
        docs.filter(_._2 % 2 == 0).toSeq, docs.filter(_._2 % 2 == 1).toSeq))
      assert(got == expected, s"streamed ${got.size} keys != batch ${expected.size}")
    }
  }

  test("dedup processor: a duplicate arriving after a restart folds into the surviving group") {
    withRocksDB {
      // key 7: copies 30 and 10 in wave 1, copy 20 after the restart —
      // keep must drop to 10 in wave 1 and n must reach 3 in wave 2.
      val got = dedupPhases(Seq(
        Seq((7L, 30L), (7L, 10L), (8L, 5L)),
        Seq((7L, 20L))))
      assert(got == Map(7L -> ((10L, 3L)), 8L -> ((5L, 1L))), got.toString)
    }
  }

  /** Two-phase as-of runner (the [[rateLimitPhases]] checkpoint-recovery
    * pattern): waves of (user_id, event_id, t, is_signup) rows land as json
    * files; emissions are keyed by event_id (unique), last-wins. */
  private def asofPhases(waves: Seq[Seq[(Long, Long, Long, Int)]])
      : Map[Long, (Long, Long, Long, Long)] = {
    val landing = tmpDir(); val ckpt = tmpDir()
    val schema = new org.apache.spark.sql.types.StructType()
      .add("user_id", org.apache.spark.sql.types.LongType)
      .add("event_id", org.apache.spark.sql.types.LongType)
      .add("t", org.apache.spark.sql.types.LongType)
      .add("is_signup", org.apache.spark.sql.types.IntegerType)
    val last = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long, Long, Long)]()
    def run(): Unit = {
      val spark0 = spark
      import spark0.implicits._
      val out = spark.readStream.schema(schema).json(landing)
        .as[(Long, Long, Long, Int)]
        .groupByKey(_._1)
        .transformWithState(
          new graft.streaming.AsofJoinProcessor[Long](),
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
      val q = out.toDF("user_id", "event_id", "t", "signup_t", "late")
        .writeStream.outputMode(OutputMode.Update())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.collect().foreach(r => last.put(r.getLong(1),
            (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4))))
        }
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(60000), "as-of query did not drain")
    }
    waves.zipWithIndex.foreach { case (wave, i) =>
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$landing/wave$i.json"),
        wave.map { case (u, e, t, s) =>
          s"""{"user_id":$u,"event_id":$e,"t":$t,"is_signup":$s}""" }
          .mkString("\n").getBytes("UTF-8"))
      run()
    }
    import scala.jdk.CollectionConverters._
    last.asScala.toMap
  }

  test("transformWithState as-of: streamed enrichment equals batch e4 across a time-split") {
    val spark0 = spark
    import spark0.implicits._
    // The participating event types of the real corpus, split into two
    // batch-monotone waves — the contract under which parity is promised.
    val ev = Tables.events(spark, sf)
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_type").isin("signup", "purchase"))
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("t"),
        when(col("event_type") === "signup", 1).otherwise(0).as("is_signup"))
      .as[(Long, Long, Long, Int)].collect().sortBy(_._3)
    assert(ev.exists(_._4 == 1) && ev.exists(_._4 == 0), "corpus must carry both types")
    // Batch e4 restricted to the same input universe (non-null user/ts).
    val expected = SparkEntry.queries("e4_asof_join")(spark, sf)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")),
        coalesce(unix_micros(col("signup_ts")), lit(-1L)))
      .as[(Long, Long, Long, Long)].collect()
      .map { case (e, u, t, st) => e -> ((u, t, st, 0L)) }.toMap
    withRocksDB {
      val split = ev(ev.length / 2)._3
      val got = asofPhases(Seq(
        ev.filter(_._3 < split).toSeq, ev.filter(_._3 >= split).toSeq))
      assert(got == expected,
        s"streamed ${got.size} purchases != batch ${expected.size}")
    }
  }

  test("as-of processor: late purchase is flagged unjoined; late signup never rewrites history") {
    withRocksDB {
      val got = asofPhases(Seq(
        // wave 1: signup@100, purchase@150 (joined to 100), hwm=150
        Seq((1L, 10L, 100L, 1), (1L, 11L, 150L, 0)),
        // wave 2: late purchase@120 (flagged, no join), late signup@140
        // (dropped — must NOT rewrite state), purchase@160 joins to 100.
        Seq((1L, 12L, 120L, 0), (1L, 13L, 140L, 1), (1L, 14L, 160L, 0))))
      assert(got == Map(
        11L -> ((1L, 150L, 100L, 0L)),
        12L -> ((1L, 120L, -1L, 1L)),
        14L -> ((1L, 160L, 100L, 0L))), got.toString)
    }
  }

  test("as-of processor: a signup tied with an already-emitted purchase is late, not a silent rewrite") {
    withRocksDB {
      val got = asofPhases(Seq(
        // wave 1: signup@100, purchase@150 joined to 100 and EMITTED.
        Seq((1L, 10L, 100L, 1), (1L, 11L, 150L, 0)),
        // wave 2 opens at the same t=150: batch e4 would replay the
        // signup BEFORE the purchase, but that purchase already left —
        // the seam signup must be counted late (state stays on 100), so
        // the next purchase still joins 100, never the unreplayable 150.
        Seq((1L, 12L, 150L, 1), (1L, 13L, 160L, 0)),
        // a same-BATCH tie still honors signup-first replay order:
        // signup@200 then purchase@200 joins 200.
        Seq((1L, 14L, 200L, 1), (1L, 15L, 200L, 0))))
      assert(got == Map(
        11L -> ((1L, 150L, 100L, 0L)),
        13L -> ((1L, 160L, 100L, 0L)),
        15L -> ((1L, 200L, 200L, 0L))), got.toString)
    }
  }

  /** Drives the two-stage IVM pipeline (CdcRetractProcessor keyed by
    * entity → IvmAggProcessor keyed by group) over MemoryStream waves;
    * returns the converged per-group (n, n_vals, sum_mu) map. Stage-1
    * deltas are collected per batchId (the documented exactly-once dedup
    * contract for a delta stream) and re-waved into stage 2. */
  private def ivmPipeline(
      waves: Seq[Seq[(Long, Long, Long, Int, Option[String], Option[Long])]])
      : Map[Option[String], (Long, Long, Option[Long])] = {
    val spark0 = spark
    import spark0.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // stage 1: entity-keyed changelog derivation
    val deltasByBatch =
      new java.util.concurrent.ConcurrentHashMap[Long, Array[(Option[String], Option[Long], Long)]]()
    val in1 = MemoryStream[(Long, Long, Long, Int, Option[String], Option[Long])]
    val q1 = in1.toDS().groupByKey(_._1)
      .transformWithState(new graft.streaming.CdcRetractProcessor[Long](),
        TimeMode.None(), OutputMode.Update())
      .toDF("g", "mu", "sgn")
      .writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", tmpDir())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        deltasByBatch.put(id, batch.collect().map(r =>
          (Option(r.getString(0)), if (r.isNullAt(1)) None else Some(r.getLong(1)),
            r.getLong(2))))
        ()
      }
      .trigger(Trigger.ProcessingTime(0)).start()
    waves.foreach { w => in1.addData(w: _*); q1.processAllAvailable() }
    q1.stop()
    import scala.jdk.CollectionConverters._
    val deltas = deltasByBatch.asScala.toSeq.sortBy(_._1).flatMap(_._2)
    // stage 2: group-keyed maintained aggregate (split the delta stream
    // into fresh waves — the fold is an order-free sum, any split works)
    val last =
      new java.util.concurrent.ConcurrentHashMap[Option[String], (Long, Long, Option[Long])]()
    val in2 = MemoryStream[(Option[String], Option[Long], Long)]
    val q2 = in2.toDS().map(r => (r._1, r._2, r._3))
      .groupByKey(_._1)
      .transformWithState(new graft.streaming.IvmAggProcessor[Option[String]](),
        TimeMode.None(), OutputMode.Update())
      .writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", tmpDir())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[(Option[String], Long, Long, Option[Long])], _: Long) =>
        batch.collect().foreach(r => last.put(r._1, (r._2, r._3, r._4)))
      }
      .trigger(Trigger.ProcessingTime(0)).start()
    deltas.grouped(math.max(1, deltas.length / 3 + 1)).foreach { w =>
      in2.addData(w: _*); q2.processAllAvailable()
    }
    q2.stop()
    last.asScala.toMap.filter(_._2._1 > 0)
  }

  test("IVM pipeline: changelog + maintained aggregate equals batch e32 across monotone waves") {
    val spark0 = spark
    import spark0.implicits._
    // The real corpus in e32's version-chain order: global (ts NULLS
    // FIRST→MinValue, event_id) sort makes EVERY positional split per-key
    // monotone, the contract under which parity is promised.
    val rows = Tables.events(spark, sf).filter(col("user_id").isNotNull)
      .select(col("user_id"), col("event_id"),
        coalesce(unix_micros(col("ts")), lit(Long.MinValue)).as("t"),
        when(col("event_type") === "purchase", 0).otherwise(1).as("op"),
        col("event_type"),
        when(!isnan(col("value")) && abs(col("value")) =!= lit(Double.PositiveInfinity),
          round(col("value") * 1e6).cast("bigint")).as("mu"))
      .as[(Long, Long, Long, Int, Option[String], Option[Long])]
      .collect().sortBy(r => (r._3, r._2))
    assert(rows.nonEmpty)
    val expected = graft.SparkEntry.queries("e32_ivm_agg")(spark, sf)
      .collect().map { r =>
        (Option(r.getString(0)),
          (r.getLong(1), r.getLong(2), if (r.isNullAt(3)) None else Some(r.getLong(3))))
      }.toMap
    withRocksDB {
      val got = ivmPipeline(rows.grouped(math.max(1, rows.length / 4 + 1)).map(_.toSeq).toSeq)
      assert(got == expected,
        s"streamed ${got.size} groups != batch ${expected.size}:\n" +
          (got.toSet -- expected.toSet).take(5).mkString("\n"))
    }
  }

  test("IVM changelog: state survives a restart — a post-restart version retracts the pre-restart contribution") {
    withRocksDB {
      val spark0 = spark
      import spark0.implicits._
      import org.apache.spark.sql.streaming.TimeMode
      val landing = tmpDir(); val ckpt = tmpDir()
      val schema = new org.apache.spark.sql.types.StructType()
        .add("k", org.apache.spark.sql.types.LongType)
        .add("eid", org.apache.spark.sql.types.LongType)
        .add("t", org.apache.spark.sql.types.LongType)
        .add("op", org.apache.spark.sql.types.IntegerType)
        .add("g", org.apache.spark.sql.types.StringType)
        .add("mu", org.apache.spark.sql.types.LongType)
      val deltas = scala.collection.mutable.ArrayBuffer.empty[(Option[String], Option[Long], Long)]
      def run(): Unit = { // a fresh query incarnation per wave = a restart
        val q = spark.readStream.schema(schema).json(landing)
          .as[(Long, Long, Long, Int, Option[String], Option[Long])]
          .groupByKey(_._1)
          .transformWithState(new graft.streaming.CdcRetractProcessor[Long](),
            TimeMode.None(), OutputMode.Update())
          .toDF("g", "mu", "sgn")
          .writeStream.outputMode(OutputMode.Update())
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            deltas ++= batch.collect().map(r => (Option(r.getString(0)),
              if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getLong(2)))
            ()
          }
          .trigger(Trigger.AvailableNow()).start()
        assert(q.awaitTermination(60000), "ivm query did not drain")
      }
      Seq(
        Seq("""{"k":1,"eid":10,"t":100,"op":1,"g":"a","mu":10}"""),
        Seq("""{"k":1,"eid":11,"t":200,"op":1,"g":"b","mu":20}""")
      ).zipWithIndex.foreach { case (wave, i) =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$landing/wave$i.json"),
          wave.mkString("\n").getBytes("UTF-8"))
        run()
      }
      // The second incarnation must retract (a, 10) — values only held in
      // pre-restart state — before inserting (b, 20).
      assert(deltas.toList == List(
        (Some("a"), Some(10L), 1L),
        (Some("a"), Some(10L), -1L), (Some("b"), Some(20L), 1L)),
        deltas.toString)
    }
  }

  test("IVM changelog: retraction is exact; a late version is counted and dropped, never misapplied") {
    withRocksDB {
      val got = ivmPipeline(Seq(
        // key 1: upsert (a, 10) then moves to (b, 20) — a retracts to zero.
        // key 2: upsert (a, null) then DELETE — contributes nothing at end.
        Seq((1L, 10L, 100L, 1, Some("a"), Some(10L)),
            (2L, 11L, 100L, 1, Some("a"), None)),
        Seq((1L, 12L, 200L, 1, Some("b"), Some(20L)),
            (2L, 13L, 200L, 0, None, None),
            // LATE: (ts 150, eid 9) under key 1's hwm (200, 12) — dropped;
            // applying it would resurrect group "a".
            (1L, 9L, 150L, 1, Some("a"), Some(99L)))))
      assert(got == Map(Option("b") -> ((1L, 1L, Some(20L)))), got.toString)
    }
  }
}

/** Crash-injection wrapper over the real [[graft.sinks.JdbcSink]]: the first
  * armed, non-empty partition write dies task-side before writing its rows —
  * they are LOST until the batch replays, while sibling partitions may
  * already have committed theirs (the at-least-once partial state the
  * idempotent upsert exists to absorb). Local mode shares one JVM, so the
  * process-global arm flag reaches the task (the PartitionProbe/
  * GraftCapDriver trick). */
object CrashOnceSink {
  private val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
  def arm(): Unit = armed.set(true)
  def isArmed: Boolean = armed.get
  private[graft] def fireOnce(): Boolean = armed.compareAndSet(true, false)
}

final class CrashOnceSink(delegate: graft.sinks.JdbcSink) extends graft.sinks.RowSink {
  override def upsertPartition(mapping: graft.core.TableMapping[_ <: Product],
      cols: Seq[String], rows: Iterator[org.apache.spark.sql.Row]): Unit = {
    if (rows.hasNext && CrashOnceSink.fireOnce())
      throw new IllegalStateException("injected mid-batch crash (partition rows lost)")
    else delegate.upsertPartition(mapping, cols, rows)
  }
  override def executeDdl(statements: Seq[String]): Unit = delegate.executeDdl(statements)
}
