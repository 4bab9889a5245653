package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

class EventsSpec extends AnyFunSuite {

  test("the same seed stages the same lines; another seed does not") {
    val a = (0L until 1000L).map(i => Events.line(7, i, i * 500))
    assert(a == (0L until 1000L).map(i => Events.line(7, i, i * 500)))
    assert(a != (0L until 1000L).map(i => Events.line(8, i, i * 500)))
  }

  test("corrupt and keyless shares are the declared per-mille, and fixed per seed") {
    val kinds = (0L until 200000L).map(i => Events.kind(3, i))
    val corrupt = kinds.count(_ == Events.Corrupt) / 200.0
    val keyless = kinds.count(_ == Events.Keyless) / 200.0
    assert(math.abs(corrupt - Events.CorruptPerMille) < 1.0, corrupt)
    assert(math.abs(keyless - Events.KeylessPerMille) < 1.5, keyless)
    assert(kinds == (0L until 200000L).map(i => Events.kind(3, i)))
  }

  test("keyless lines omit the key field; corrupt lines are cut short") {
    val byKind = (0L until 5000L).groupBy(i => Events.kind(1, i))
    byKind(Events.Keyless).take(20).foreach(i => assert(!Events.line(1, i, 0).contains("\"mykey\"")))
    byKind(Events.Valid).take(20).foreach { i =>
      assert(Events.line(1, i, 0).contains("\"mykey\":\"" + Events.key(1, i) + "\""))
    }
    byKind(Events.Corrupt).take(20).foreach(i => assert(!Events.line(1, i, 0).endsWith("}")))
  }

  test("seqOf reads the leading sequence number and rejects anything else") {
    assert(Events.seqOf((Events.line(1, 12345, 0) + "\n").getBytes(UTF_8)) == 12345L)
    assert(Events.seqOf("{\"seq\":,".getBytes(UTF_8)) == -1L)
    assert(Events.seqOf("garbage".getBytes(UTF_8)) == -1L)
  }

  test("expected hashes: zero exactly for events the path must drop") {
    (0L until 3000L).foreach { i =>
      val k = Events.kind(5, i)
      assert((Events.expectedHash(5, i, 0, keyed = true) == 0L) == (k != Events.Valid))
      assert((Events.expectedHash(5, i, 0, keyed = false) == 0L) == (k == Events.Corrupt))
    }
  }

  test("record hash depends on every payload byte and on the key") {
    val data = (Events.line(1, 3, 0) + "\n").getBytes(UTF_8)
    val h = Events.recordHash(data, "k")
    assert(Events.recordHash(data, "k") == h)
    assert(Events.recordHash(data, "k2") != h)
    data.indices.foreach { i =>
      val d = data.clone(); d(i) = (d(i) ^ 1).toByte
      assert(Events.recordHash(d, "k") != h, s"byte $i")
    }
  }

  test("reject schedule: first attempt only, at the declared share, fixed by seed and bytes") {
    val recs = (0L until 100000L).map(i => (Events.line(2, i, 0) + "\n").getBytes(UTF_8))
    val first = recs.count(r => Events.rejects(2, r, 0, 50))
    assert(math.abs(first / 100.0 - 50) < 3, first)
    assert(recs.forall(r => !Events.rejects(2, r, 1, 50) && !Events.rejects(2, r, 3, 50)))
    assert(recs.count(r => Events.rejects(2, r, 0, 50)) == first)
    assert(recs.count(r => Events.rejects(9, r, 0, 50)) != first)
  }

  test("table generator: same seed, same rows") {
    val a = TableGen.tables(4, 0.001)
    val b = TableGen.tables(4, 0.001)
    assert(a.map(t => (t._1, t._3)) == b.map(t => (t._1, t._3)))
    assert(a.map(_._3) != TableGen.tables(5, 0.001).map(_._3))
    assert(a.find(_._1 == "lineitem").get._3.size == 6000)
  }
}
