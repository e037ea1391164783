package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

final case class RunArgs(workload: String, seed: Long, seconds: Double, trace: Boolean,
    runDir: String, cores: Int, corpus: Option[String])

object Json {
  private val mapper = new ObjectMapper()

  private def node(v: Any): AnyRef = v match {
    case m: Map[_, _] =>
      val o = new java.util.LinkedHashMap[String, AnyRef]()
      m.toSeq.sortBy(_._1.toString).foreach { case (k, x) => o.put(k.toString, node(x)) }
      o
    case s: Seq[_] => java.util.Arrays.asList(s.map(node): _*)
    case d: Double => java.lang.Double.valueOf(d)
    case l: Long => java.lang.Long.valueOf(l)
    case i: Int => java.lang.Integer.valueOf(i)
    case b: Boolean => java.lang.Boolean.valueOf(b)
    case other => other.toString
  }

  def render(v: Any): String = mapper.writeValueAsString(node(v))

  def write(path: String, v: Any): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, render(v).getBytes("UTF-8"))
  }
}

/** JVM side of the benchmark (run.py builds and launches it). One Spark
  * session per run, `local[cores]`, with the confs printed in the result.
  * Prints one line `GRAFTBENCH <json>` with attempted/failed counts, the
  * metrics of the requested mode and the run's detail fields. */
object Main {
  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val args = RunArgs(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("run-dir"), kv("cores").toInt, kv.get("corpus"))

    val t0 = System.nanoTime()
    val confs = Seq(
      "spark.master" -> s"local[${args.cores}]",
      "spark.sql.shuffle.partitions" -> args.cores.toString,
      // graft's layout fan-outs are per-core settings (their default, 32,
      // is one per core on a 32-core host): size them like the shuffle.
      "graft.bucketedJoin.buckets" -> args.cores.toString,
      "graft.zorder.files" -> args.cores.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.kryoserializer.buffer.max" -> "256m",
      "spark.sql.streaming.numRecentProgressUpdates" -> "100000",
      "spark.sql.warehouse.dir" -> s"${args.runDir}/warehouse",
      "spark.local.dir" -> s"${args.runDir}/spark-local")
    val spark = confs.foldLeft(SparkSession.builder().appName("graft-perfbench")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = Stats.secondsSince(t0)

    val out = args.workload match {
      case "sink_bulk_json" => new SinkWorkload(spark, MessageGen.BulkJson, args).run(sessionS)
      case "query_mix_sf0.1" => new QueryWorkload(spark, args, args.corpus.get).run(sessionS)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val heapGb = Runtime.getRuntime.maxMemory / 1e9
    println("GRAFTBENCH " + Json.render(Map(
      "attempted" -> out.attempted, "failed" -> out.failed,
      "metrics" -> out.metrics.map(m => m.name -> Map("value" -> m.value, "unit" -> m.unit)).toMap,
      "detail" -> (out.detail.toMap ++ Map("confs" -> confs.toMap, "heap_gb" -> heapGb)))))
    spark.stop()
  }
}
