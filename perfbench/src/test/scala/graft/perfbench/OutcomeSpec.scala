package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8

import graft.sink.BatchPut.Record
import org.scalatest.funsuite.AnyFunSuite

class OutcomeSpec extends AnyFunSuite {

  private def staged(seed: Long, n: Int): (Array[Long], Seq[Record]) = {
    val expected = Array.tabulate(n)(i => Events.expectedHash(seed, i, 0, keyed = true))
    val records = (0 until n).filter(i => Events.kind(seed, i) == Events.Valid).map(i =>
      Record((Events.line(seed, i, 0) + "\n").getBytes(UTF_8), Events.key(seed, i)))
    (expected, records)
  }

  private def outcome(failed: Long, checks: Map[String, Boolean]) =
    Main.Outcome(1, failed, checks, Map.empty, Map.empty, Nil)

  test("intact acks in any order match the generator's digest; exit 0") {
    val (expected, records) = staged(11, 2000)
    val l = new Ledger(11, expected, System.nanoTime(), 0, 0, new Tracer(false))
    scala.util.Random.shuffle(records).grouped(50).foreach(l.put)
    assert(l.failedCount == 0 && l.digest.sum == expected.sum)
    assert(Main.exitCode(outcome(l.failedCount, Map("digest" -> (l.digest.sum == expected.sum)))) == 0)
  }

  test("a stub that acks a corrupted payload fails the run") {
    val (expected, records) = staged(11, 2000)
    val l = new Ledger(11, expected, System.nanoTime(), 0, 0, new Tracer(false))
    val bad = records.head.data.clone(); bad(bad.length - 3) = 'X'.toByte
    l.put(Record(bad, records.head.key) +: records.tail)
    assert(l.wrong.sum == 1 && l.failedCount == 2) // altered, and its event never acked intact
    assert(l.digest.sum != expected.sum)
    assert(Main.exitCode(outcome(l.failedCount, Map("digest" -> false))) == 1)
  }

  test("wrong key, duplicate ack and missing event each fail the run") {
    val (expected, records) = staged(12, 500)
    val l = new Ledger(12, expected, System.nanoTime(), 0, 0, new Tracer(false))
    l.put(Record(records.head.data, "otherkey") +: records.tail.tail :+ records.last)
    assert(l.wrong.sum == 1 && l.dup.sum == 1)
    assert(l.failedCount == 1 + 1 + 2) // wrong + dup + two events never acked
  }

  test("rejected records are retried by the delivery path until acked") {
    val (expected, records) = staged(13, 3000)
    val l = new Ledger(13, expected, System.nanoTime(), 0, 200, new Tracer(false))
    val cfg = graft.config.StreamsConfig(region = "r", streamName = "s",
      backoffInit = scala.concurrent.duration.Duration.Zero)
    val putter = new graft.sink.BatchPut.Putter { def put(rs: Seq[Record]) = l.put(rs) }
    val stats = graft.sink.BatchPut.publish(putter, cfg, records, _ => ())
    assert(l.rejected.sum > 0 && stats.dropped == 0 && l.failedCount == 0)
  }

  test("a row that throws is a failed operation and a nonzero exit") {
    val boom: Rows.Query = (_, _) => throw new IllegalStateException("boom")
    val drains = Rows.sweep(null, "/nowhere", Seq("q99_boom" -> boom), 2, new Tracer(false), 0L)
    val errors = Rows.errors(drains)
    assert(errors.keySet == Set("q99_boom") && errors("q99_boom").contains("boom"))
    assert(Main.exitCode(outcome(errors.size, Map("every_row_ran" -> errors.isEmpty))) == 1)
  }

  test("each row counts with its best drain over the sweeps") {
    val drains = Seq(Rows.Drain("q01_a", 0.5, None), Rows.Drain("q02_b", 0.9, None),
      Rows.Drain("q01_a", 0.3, None), Rows.Drain("q02_b", 0.1, Some("boom")))
    assert(Rows.bestSeconds(drains).sorted == Seq(0.3, 0.9))
  }
}
