package graft

import graft.config.StreamsConfig
import graft.sink.{BatchPut, KinesisShapedSink}
import graft.streaming.Pipeline
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import java.nio.file.Files
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** No-arg-constructible putter for the DSv2 `putter.class` option — the
  * reflective twin of the reference's injectable kinesisStreamsClient seam. */
class RegistryPutter extends BatchPut.Putter {
  def put(records: Seq[BatchPut.Record]): Seq[BatchPut.PutResult] = {
    RegistryPutter.calls.add(records.size)
    records.foreach(RegistryPutter.got.add)
    records.map(_ => BatchPut.PutResult(None))
  }
}
object RegistryPutter {
  val got = new java.util.concurrent.ConcurrentLinkedQueue[BatchPut.Record]()
  /** Records per put call, in call order. */
  val calls = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
}

/** DataSource V2 sink registration spec (SURVEY §2.5 O3): the short name
  * resolves via DataSourceRegister, options validate at plan time, and both
  * the streaming and batch write paths deliver through BatchPut. */
class DsV2SinkSpec extends SparkSpec {
  import spark.implicits._

  test("writeStream.format(graft-streams) delivers keyed NDJSON records") {
    RegistryPutter.got.clear()
    val inDir = Files.createTempDirectory("graft-dsv2-in").toFile
    val ckDir = Files.createTempDirectory("graft-dsv2-ck").toFile
    val schema = StructType(Seq(
      StructField("host", StringType), StructField("msg", StringType)))
    Files.writeString(new java.io.File(inDir, "a.ndjson").toPath,
      """{"host":"web-1","msg":"hello"}
        |{"host":"web-2","msg":"world"}
        |""".stripMargin)
    val cfg = StreamsConfig(region = "us-east-1", streamName = "t", partitionKey = "host")
    val src = Pipeline.readNdjsonStream(spark, inDir.getAbsolutePath, schema)
    val (records, _) = Pipeline.publishTransform(src, cfg)
    val q = records.writeStream
      .format("graft-streams")
      .option("region", "us-east-1")
      .option("stream_name", "t")
      .option("putter.class", classOf[RegistryPutter].getName)
      .option("checkpointLocation", ckDir.getAbsolutePath)
      .trigger(Trigger.ProcessingTime(100))
      .start()
    try q.processAllAvailable() finally q.stop()
    val recs = RegistryPutter.got.toArray(Array.empty[BatchPut.Record])
    assert(recs.length == 2)
    assert(recs.map(_.key).sorted.toSeq == Seq("web-1", "web-2"))
    assert(recs.forall(r => new String(r.data, "UTF-8").endsWith("\n")))
  }

  test("batch write path shares the delivery machinery") {
    RegistryPutter.got.clear()
    Seq(("a", "k1"), ("b", "k2"), ("c", "k1"))
      .toDF("data", "partition_key")
      .write.format("graft-streams")
      .option("region", "us-east-1").option("stream_name", "t")
      .option("putter.class", classOf[RegistryPutter].getName)
      .mode("append").save()
    val recs = RegistryPutter.got.toArray(Array.empty[BatchPut.Record])
    assert(recs.length == 3)
    assert(recs.map(_.key).count(_ == "k1") == 2)
  }

  test("DSv2 and foreachBatch entry points put the same records in the same calls") {
    // one partition of 1 234 rows: two full 500-record buffers and a rest;
    // every 7th row has a null key, which both routes send as ""
    val n = 1234
    val df = (0 until n).map(i => (s"{\"n\":$i}\n", if (i % 7 == 0) null else s"k${i % 13}"))
      .toDF("data", "partition_key").coalesce(1)
    def delivered(run: => Unit): (Map[(String, String), Int], Seq[Int]) = {
      RegistryPutter.got.clear(); RegistryPutter.calls.clear()
      run
      (RegistryPutter.got.asScala.toSeq
        .groupBy(r => (new String(r.data, "UTF-8"), r.key)).view.mapValues(_.size).toMap,
        RegistryPutter.calls.asScala.toSeq)
    }
    for (bs <- Seq(50, 500)) {
      val dsv2 = delivered(df.write.format("graft-streams")
        .option("region", "us-east-1").option("stream_name", "t")
        .option("batch_size", bs.toString)
        .option("putter.class", classOf[RegistryPutter].getName)
        .mode("append").save())
      val foreachBatch = delivered(KinesisShapedSink.write(df,
        StreamsConfig("us-east-1", "t", batchSize = bs), () => new RegistryPutter))
      assert(foreachBatch == dsv2, s"batch_size $bs")
      val (records, calls) = dsv2
      assert(records.values.sum == n && records.values.forall(_ == 1))
      assert(records.keys.count(_._2 == "") == (0 until n).count(_ % 7 == 0))
      val perBuffer = Seq(500, 500, n - 1000).map(b => Seq.fill(b / bs)(bs) ++ Seq(b % bs).filter(_ > 0))
      assert(calls == perBuffer.flatten, s"batch_size $bs")
    }
  }

  test("invalid options fail at plan time like outputs.Fail") {
    val df = Seq(("a", "k")).toDF("data", "partition_key")
    val e = intercept[Exception] {
      df.write.format("graft-streams")
        .option("stream_name", "t") // region missing
        .option("putter.class", classOf[RegistryPutter].getName)
        .mode("append").save()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("region is not defined")), e.toString)
  }
}
