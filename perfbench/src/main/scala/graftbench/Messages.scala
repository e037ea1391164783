package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import scala.collection.mutable

/** One sink workload's input shape. `keyReuse` is how many times a natural
  * key occurs per micro-batch on average; `malformedShare` of the messages
  * are undecodable bytes (dead letters) and `droppedShare` decode but lack
  * `values`, so the mapping drops them. */
final case class SinkShape(batchSize: Int, keyReuse: Int,
    malformedShare: Double, droppedShare: Double)

/** One micro-batch of Kafka-shaped records (key bytes, value bytes,
  * offset) and what a correct sink must do with them. */
final case class Batch(records: Seq[(Array[Byte], Array[Byte], Long)],
    landing: Seq[(String, Long)], malformed: Int)

/** Seeded generator of GenericFloat-shaped messages (uid, gid, time,
  * lat/lon, z, eight numeric `values`, `meta.seq` = stream position), packed
  * as json. Every natural key has its own uid, so a key's
  * expected final row is the one with the highest `meta.seq` sent for it. */
final class MessageGen(shape: SinkShape, seed: Long) {
  private val rng = new java.util.SplittableRandom(seed)
  private val mapper = new ObjectMapper()
  private val epoch2024 = 1704067200L
  private var pos = 0L
  private var batchNo = 0L

  private def message(uid: String, k: Long, withValues: Boolean): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("uid", uid)
    n.put("gid", s"g${k % 7}")
    n.put("time", java.time.Instant.ofEpochSecond(epoch2024 + k).toString)
    n.put("lat", (k * 7919 % 17000) / 100.0 - 85.0)
    n.put("lon", (k * 104729 % 36000) / 100.0 - 180.0)
    n.put("z", (k % 50) * 0.5)
    if (withValues) {
      val v = n.putObject("values")
      (0 until 8).foreach(i => v.put(s"v$i", rng.nextInt(1000000) / 1000.0))
    }
    n.putObject("meta").put("seq", pos)
    n
  }

  private def pack(n: ObjectNode): Array[Byte] = mapper.writeValueAsBytes(n)

  private def malformedBytes(): Array[Byte] =
    s"""{"uid": "bad-$pos", "values": """.getBytes("UTF-8")

  def next(): Batch = {
    val keysPerBatch = math.max(1, shape.batchSize / shape.keyReuse)
    val base = batchNo * keysPerBatch / 2 // half of each batch's keys recur from the last
    val landing = mutable.ArrayBuffer.empty[(String, Long)]
    var malformed = 0
    val records = Vector.fill(shape.batchSize) {
      val u = rng.nextDouble()
      val (key, value) =
        if (u < shape.malformedShare) {
          malformed += 1
          ("bad", malformedBytes())
        } else if (u < shape.malformedShare + shape.droppedShare) {
          val uid = s"drop-$pos"
          (uid, pack(message(uid, 1000000000L + pos, withValues = false)))
        } else {
          val k = base + rng.nextInt(keysPerBatch)
          val uid = s"u$k"
          landing += uid -> pos
          (uid, pack(message(uid, k, withValues = true)))
        }
      val r = (key.getBytes("UTF-8"), value, pos)
      pos += 1
      r
    }
    batchNo += 1
    Batch(records, landing.toSeq, malformed)
  }
}

object MessageGen {
  val BulkJson = SinkShape(batchSize = 2000, keyReuse = 4,
    malformedShare = 0.01, droppedShare = 0.01)
}
