package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.types._

/** Seeded filebeat-shaped NDJSON events and their exact expected outcomes.
  *
  * Line `seq` of a seed is a pure function of (seed, seq, due time), so a
  * seed always stages the same input. Lines are written in the compact field
  * order of [[schema]], which is also what `to_json` emits for the parsed
  * row, so a delivered payload must equal its line plus `\n` byte for byte.
  * A fixed share of lines is corrupt JSON (the F1 parse-drop) and a fixed
  * share omits the key field `mykey` (the F2 key-drop on the keyed path).
  */
object Events {
  sealed trait Kind
  case object Valid extends Kind
  case object Keyless extends Kind
  case object Corrupt extends Kind

  /** Shares in thousandths: 1 % corrupt, 2 % keyless. */
  val CorruptPerMille = 10
  val KeylessPerMille = 20

  val KeyField = "mykey"

  val schema: StructType = StructType(Seq(
    StructField("seq", LongType),
    StructField("due_us", LongType),
    StructField("host", StructType(Seq(
      StructField("name", StringType), StructField("ip", StringType)))),
    StructField("log", StructType(Seq(
      StructField("file", StructType(Seq(StructField("path", StringType)))),
      StructField("offset", LongType)))),
    StructField(KeyField, StringType),
    StructField("message", StringType)))

  /** SplitMix64 finalizer: a well-mixed 64-bit value per input. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def draw(seed: Long, seq: Long, salt: Long): Long =
    mix(mix(seed ^ salt) ^ seq)

  def kind(seed: Long, seq: Long): Kind = {
    val u = java.lang.Long.remainderUnsigned(draw(seed, seq, 1L), 1000L)
    if (u < CorruptPerMille) Corrupt
    else if (u < CorruptPerMille + KeylessPerMille) Keyless
    else Valid
  }

  private val paths = Array("/var/log/app.log", "/var/log/nginx/access.log",
    "/var/log/syslog", "/var/log/auth.log")
  private val verbs = Array("GET", "POST", "PUT", "DELETE")
  private val routes = Array("/api/v1/items/", "/api/v1/users/", "/health", "/static/app-")

  /** The partition key a keyed event carries. */
  def key(seed: Long, seq: Long): String =
    "mykey" + java.lang.Long.remainderUnsigned(draw(seed, seq, 2L), 64L)

  /** The NDJSON line (without `\n`) for event `seq`, due at `dueMicros`. */
  def line(seed: Long, seq: Long, dueMicros: Long): String = {
    val r = draw(seed, seq, 3L)
    val h = (r & 0xFF).toInt
    val sb = new java.lang.StringBuilder(220)
    sb.append("{\"seq\":").append(seq).append(",\"due_us\":").append(dueMicros)
      .append(",\"host\":{\"name\":\"host-").append(h % 16)
      .append("\",\"ip\":\"10.0.").append(h % 16).append('.').append(h)
      .append("\"},\"log\":{\"file\":{\"path\":\"").append(paths(((r >>> 8) & 3).toInt))
      .append("\"},\"offset\":").append((r >>> 16) & 0xFFFFFFL).append('}')
    val k = kind(seed, seq)
    if (k != Keyless) sb.append(",\"").append(KeyField).append("\":\"").append(key(seed, seq)).append('"')
    sb.append(",\"message\":\"").append(verbs(((r >>> 40) & 3).toInt))
      .append(' ').append(routes(((r >>> 42) & 3).toInt)).append((r >>> 44) & 0xFFFF)
      .append(" 200 ").append((r >>> 50) & 0x3FFF).append("\"}")
    if (k == Corrupt) sb.substring(0, sb.length / 2) else sb.toString
  }

  /** 64-bit hash of one delivered record: payload bytes and key. */
  def recordHash(data: Array[Byte], key: String): Long = {
    val a = MurmurHash3.bytesHash(data, 0x5eed0001)
    val b = MurmurHash3.bytesHash(data, 0x5eed0002)
    mix((a.toLong << 32) ^ (b.toLong & 0xFFFFFFFFL) ^ mix(key.hashCode.toLong))
  }

  /** Hash the payload of line `seq` must arrive with, or 0 when the event
    * must never be delivered on this path (corrupt, or keyless when keyed). */
  def expectedHash(seed: Long, seq: Long, dueMicros: Long, keyed: Boolean): Long =
    kind(seed, seq) match {
      case Corrupt => 0L
      case Keyless if keyed => 0L
      case k =>
        val data = (line(seed, seq, dueMicros) + "\n").getBytes(UTF_8)
        recordHash(data, if (keyed && k == Valid) key(seed, seq) else "")
    }

  /** Read the leading `"seq"` field of a payload; -1 when it is not there. */
  def seqOf(data: Array[Byte]): Long = {
    val prefix = 7 // {"seq":
    if (data.length <= prefix || data(0) != '{' || data(2) != 's') return -1L
    var i = prefix
    var v = 0L
    while (i < data.length && data(i) >= '0' && data(i) <= '9') {
      v = v * 10 + (data(i) - '0'); i += 1
    }
    if (i == prefix || i >= data.length || data(i) != ',') -1L else v
  }

  /** The service stub's reject rule: a record is throttled on its first
    * attempt with probability `perMille`/1000, drawn from the seed and the
    * record bytes, and accepted on every later attempt, so no record can
    * exhaust the retry budget. */
  def rejects(seed: Long, data: Array[Byte], attempt: Int, perMille: Int): Boolean =
    attempt == 0 && perMille > 0 && java.lang.Long.remainderUnsigned(
      mix(recordHash(data, "") ^ mix(seed ^ 4L)), 1000L) < perMille
}
