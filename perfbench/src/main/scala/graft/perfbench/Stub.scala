package graft.perfbench

import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray, LongAdder}

import graft.sink.BatchPut

/** The service side of a delivery run: what the stub putters acked, when,
  * and whether each payload matched what the generator staged.
  *
  * Spark runs `local[4]`, so every task's putter lives in this JVM and
  * reports here. One delivery run at a time is active.
  */
final class Ledger(val seed: Long, expected: Array[Long], @volatile var originNanos: Long,
    val servicePauseMs: Long, val rejectPerMille: Int, val tracer: Tracer) {
  val n: Int = expected.length
  private val ackMicros = new AtomicLongArray(n)
  private val attempts = new java.util.concurrent.atomic.AtomicIntegerArray(n)
  val calls, sent, acked, dup, wrong, rejected, bytesOut = new LongAdder
  /** Order-insensitive digest of every accepted record: the sum of the
    * record hashes, which must equal the sum over the staged events. */
  val digest = new LongAdder
  private val callNanos = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]
  val lastAckNanos = new AtomicLong

  /** One service call: wait the service time, then accept or reject each
    * record. Accepted records are checked against the staged hash. */
  def put(records: Seq[BatchPut.Record]): Seq[BatchPut.PutResult] = {
    val t0 = System.nanoTime()
    if (servicePauseMs > 0) Thread.sleep(servicePauseMs)
    val now = System.nanoTime()
    val nowMicros = math.max(1L, (now - originNanos) / 1000L)
    val out = records.map { r =>
      val seq = Events.seqOf(r.data)
      if (seq < 0 || seq >= n) { wrong.increment(); BatchPut.PutResult(None) }
      else if (Events.rejects(seed, r.data, attempts.getAndIncrement(seq.toInt), rejectPerMille)) {
        rejected.increment(); BatchPut.PutResult(Some("ProvisionedThroughputExceededException"))
      } else {
        val h = Events.recordHash(r.data, r.key)
        digest.add(h)
        if (h != expected(seq.toInt)) wrong.increment()
        else if (!ackMicros.compareAndSet(seq.toInt, 0L, nowMicros)) dup.increment()
        else { acked.increment(); bytesOut.add(r.data.length) }
        BatchPut.PutResult(None)
      }
    }
    lastAckNanos.accumulateAndGet(now, math.max)
    calls.increment(); sent.add(records.size)
    val t1 = System.nanoTime()
    callNanos.add(t1 - t0)
    tracer.record("sink.put", t0, t1)
    out
  }

  /** Ack time of each event that must be delivered, microseconds from the
    * origin; 0 where it never was. */
  def ackTimes: Seq[(Int, Long)] =
    (0 until n).filter(i => expected(i) != 0L).map(i => i -> ackMicros.get(i))

  /** Events that must be delivered and were not, or arrived altered. */
  def failedCount: Long = ackTimes.count(_._2 == 0L) + wrong.sum + dup.sum

  def callMillis: Array[Double] = callNanos.toArray.map(_.asInstanceOf[java.lang.Long] / 1e6)
}

object Ledger {
  @volatile private var current: Ledger = _
  def open(l: Ledger): Unit = current = l
  def get: Ledger = { val l = current; require(l != null, "no delivery run is open"); l }
}

/** Putter for the DSv2 sink's `putter.class` option: reports to the open
  * [[Ledger]]. */
class LedgerPutter extends BatchPut.Putter {
  private val ledger = Ledger.get
  override def put(records: Seq[BatchPut.Record]): Seq[BatchPut.PutResult] = ledger.put(records)
}
