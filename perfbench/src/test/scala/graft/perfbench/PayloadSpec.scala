package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.streaming.Pipeline
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The generator's premise: the engine delivers each event's line, plus a
  * newline, byte for byte, so the stub can check payloads by hash. */
class PayloadSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()
  override def afterAll(): Unit = spark.stop()

  private val seed = 21L
  private val n = 3000

  private lazy val dir = {
    val d = Files.createTempDirectory("perfbench-payload")
    Files.createDirectories(d.resolve("in"))
    val (_, files) = Ship.build(seed, n, 1000, keyed = true, i => i * 7)
    files.zipWithIndex.foreach { case (b, i) => Ship.publishFile(d.resolve("in"), s"f$i.json", b) }
    d.resolve("in").toString
  }

  private def delivered(keyed: Boolean): Seq[(Array[Byte], String)] = {
    val (parsed, _) = Pipeline.readNdjson(spark, dir, Events.schema)
    val out = if (keyed) Pipeline.publishTransform(parsed, Ship.StreamsCfg)._1
      else Pipeline.firehoseTransform(parsed)
    out.collect().toSeq.map { r =>
      (r.getString(0).getBytes(UTF_8), if (keyed) r.getString(1) else "")
    }
  }

  test("streams path: every valid event, exact bytes and key") {
    val expected = Array.tabulate(n)(i => Events.expectedHash(seed, i, i * 7L, keyed = true))
    val got = delivered(keyed = true)
    assert(got.size == expected.count(_ != 0L))
    got.foreach { case (data, key) =>
      assert(Events.recordHash(data, key) == expected(Events.seqOf(data).toInt))
    }
  }

  test("firehose path: every parseable event, exact bytes, no key") {
    val expected = Array.tabulate(n)(i => Events.expectedHash(seed, i, i * 7L, keyed = false))
    val got = delivered(keyed = false)
    assert(got.size == expected.count(_ != 0L))
    got.foreach { case (data, key) =>
      assert(Events.recordHash(data, key) == expected(Events.seqOf(data).toInt))
    }
  }

  test("corrupt lines land on the parse-drop side") {
    val (_, corrupt) = Pipeline.readNdjson(spark, dir, Events.schema)
    assert(corrupt.count() == (0 until n).count(i => Events.kind(seed, i) == Events.Corrupt))
  }
}
