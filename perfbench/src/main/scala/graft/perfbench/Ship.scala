package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.concurrent.duration._

import graft.config.{FirehoseConfig, StreamsConfig}
import graft.sink.BatchPut
import graft.streaming.{Observability, Pipeline}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

/** The two delivery workloads: the streams path draining a staged backlog,
  * and the firehose path fed by an open-loop generator. */
object Ship {
  /** Backlog: events per second of `--seconds`, files of 5 000 lines,
    * drained [[BacklogWarmDrains]] times to warm the JIT up and then
    * [[BacklogDrains]] more times, timed; each metric is the median timed
    * drain's. */
  val BacklogPerSecond = 20000
  val BacklogFileLines = 5000
  val BacklogWarmDrains = 2
  val BacklogDrains = 5
  /** Open loop: 2 000 events/s, one file of 500 events per 250 ms tick. */
  val Rate = 2000
  val TickMs = 250
  /** Stub service: 100 ms per call; 5 % of records throttled on their first
    * attempt, far more than the 1 % the tail percentile looks at. */
  val ServiceMs = 100L
  val RejectPerMille = 50
  val StreamsCfg = StreamsConfig(region = "local", streamName = "bench", partitionKey = Events.KeyField)
  /** batch_size 500 and the default max_retries 3. backoff.init is 100 ms,
    * not the reference's 1 s: a retry then stalls a one-file partition for
    * one service call, not ten, and 2 000 events/s stays sustainable. */
  val FirehoseCfg = FirehoseConfig(region = "local", streamName = "bench", batchSize = 500,
    backoffInit = 100.millis)

  final case class Staged(dir: Path, expected: Array[Long], files: Seq[Array[Byte]])

  /** Build the files of events [0, n) due at `due(seq)`, `perFile` lines each. */
  def build(seed: Long, n: Int, perFile: Int, keyed: Boolean, due: Long => Long): (Array[Long], Seq[Array[Byte]]) = {
    val expected = Array.tabulate(n)(i => Events.expectedHash(seed, i, due(i), keyed))
    val files = (0 until n by perFile).map { from =>
      val sb = new java.lang.StringBuilder(perFile * 230)
      (from until math.min(n, from + perFile)).foreach(i => sb.append(Events.line(seed, i, due(i))).append('\n'))
      sb.toString.getBytes(UTF_8)
    }
    (expected, files)
  }

  /** Write a file so the file source never sees it half-written. */
  def publishFile(dir: Path, name: String, bytes: Array[Byte]): Unit = {
    val tmp = dir.resolveSibling(dir.getFileName.toString + ".incoming")
    Files.createDirectories(tmp)
    val f = Files.write(tmp.resolve(name), bytes)
    Files.move(f, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  def stageBacklog(seed: Long, seconds: Int, dir: Path): Staged = {
    val (expected, files) = build(seed, BacklogPerSecond * seconds, BacklogFileLines, keyed = true, _ => 0L)
    Files.createDirectories(dir)
    files.zipWithIndex.foreach { case (b, i) => publishFile(dir, f"part-$i%05d.json", b) }
    Staged(dir, expected, files)
  }

  def stageThrottled(seed: Long, seconds: Int, dir: Path): Staged = {
    val (expected, files) = build(seed, Rate * seconds, Rate * TickMs / 1000, keyed = false,
      i => i * 1000000L / Rate)
    Files.createDirectories(dir)
    Staged(dir, expected, files)
  }

  private def newLedger(seed: Long, s: Staged, pauseMs: Long, reject: Int, tracer: Tracer) = {
    val l = new Ledger(seed, s.expected, System.nanoTime(), pauseMs, reject, tracer)
    Ledger.open(l)
    l
  }

  /** Start the streams path over `dir`: parse → publishTransform → the
    * `graft-streams` DSv2 sink at its default batch_size. */
  private def startStreams(spark: SparkSession, dir: Path, ck: Path) = {
    val parsed = Pipeline.readNdjsonStream(spark, dir.toString, Events.schema)
    val (records, _) = Pipeline.publishTransform(parsed, StreamsCfg)
    records.writeStream.format("graft-streams")
      .option("region", StreamsCfg.region).option("stream_name", StreamsCfg.streamName)
      .option("putter.class", classOf[LedgerPutter].getName)
      .option("checkpointLocation", ck.toString)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  private def startFirehose(spark: SparkSession, dir: Path, ck: Path) = {
    val parsed = Pipeline.readNdjsonStream(spark, dir.toString, Events.schema)
    Pipeline.toFirehoseShapedSink(Pipeline.firehoseTransform(parsed), FirehoseCfg,
      () => new LedgerPutter, ck.toString, 0.millis).start()
  }

  /** Untimed warm-up of the streams path on a small separate backlog. */
  def warmBacklog(spark: SparkSession, seed: Long, work: Path): Unit = {
    val dir = work.resolve("warm-in")
    val (exp, files) = build(seed + 1, 4 * BacklogFileLines, BacklogFileLines, keyed = true, _ => 0L)
    Files.createDirectories(dir)
    files.zipWithIndex.foreach { case (b, i) => publishFile(dir, s"w$i.json", b) }
    newLedger(seed + 1, Staged(dir, exp, files), 0L, 0, new Tracer(false))
    startStreams(spark, dir, work.resolve("warm-ck")).awaitTermination()
  }

  /** Untimed warm-up of the firehose path. */
  def warmThrottled(spark: SparkSession, seed: Long, work: Path): Unit = {
    val dir = work.resolve("warm-in")
    val (exp, files) = build(seed + 1, 2000, 200, keyed = false, _ => 0L)
    Files.createDirectories(dir)
    val l = newLedger(seed + 1, Staged(dir, exp, files), 0L, RejectPerMille, new Tracer(false))
    val q = startFirehose(spark, dir, work.resolve("warm-ck"))
    files.zipWithIndex.foreach { case (b, i) => publishFile(dir, s"w$i.json", b) }
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (l.acked.sum < exp.count(_ != 0L) && System.nanoTime() < deadline) Thread.sleep(20)
    q.stop()
  }

  /** Drain the staged backlog [[BacklogWarmDrains]] + [[BacklogDrains]]
    * times, each from a fresh checkpoint; in each drain, events are due when
    * its stream starts. Every drain is checked; layer metrics cover all of
    * them together. */
  def backlog(spark: SparkSession, seed: Long, s: Staged, work: Path, tracer: Tracer,
      engine: EngineListener): Measured = {
    val root = tracer.reserve()
    val progress = new ProgressListener(tracer, root)
    val keyDrops = new java.util.concurrent.atomic.LongAdder
    val publish = new Observability.PublishListener(m => keyDrops.add(m.nDropped))
    if (tracer.enabled) { spark.streams.addListener(progress); spark.streams.addListener(publish) }
    val t0 = System.nanoTime()
    val passes = (1 to BacklogWarmDrains + BacklogDrains).map { k =>
      val ledger = newLedger(seed, s, 0L, 0, tracer)
      startStreams(spark, s.dir, work.resolve(s"ck$k")).awaitTermination()
      val ms = ledger.ackTimes.collect { case (_, a) if a > 0 => a / 1000.0 }.toArray
      Pass(ledger, ms, (ledger.lastAckNanos.get - ledger.originNanos) / 1e9)
    }
    val end = System.nanoTime()
    if (tracer.enabled) Engine.drainListeners(spark)
    spark.streams.removeListener(progress); spark.streams.removeListener(publish)
    tracer.record("stream", t0, end, 0L, root)
    val keyless = (0 until s.expected.length).count(i => Events.kind(seed, i) == Events.Keyless)
    Measured(passes, BacklogWarmDrains, (end - t0) / 1e9, engine.snapshot ++ progress.snapshot ++ Map(
      "keys.dropped" -> keyDrops.sum.toDouble, "gen.late_p99_ms" -> 0.0),
      expectedKeyDrops = passes.size * keyless)
  }

  /** Feed the firehose path at [[Rate]] for `seconds` from one generator
    * thread, then wait for the last ack. Latency runs from each event's due
    * time, so a late generator or a stalled batch both count. */
  def throttled(spark: SparkSession, seed: Long, s: Staged, work: Path,
      tracer: Tracer, engine: EngineListener): Measured = {
    val root = tracer.reserve()
    val progress = new ProgressListener(tracer, root)
    if (tracer.enabled) spark.streams.addListener(progress)
    val ledger = newLedger(seed, s, ServiceMs, RejectPerMille, tracer)
    val q = startFirehose(spark, s.dir, work.resolve("ck"))
    // let the query finish its first (empty) trigger before the clock starts
    while (q.lastProgress == null && q.isActive) Thread.sleep(5)
    if (!q.isActive) q.awaitTermination() // rethrows why the query stopped
    val t0 = System.nanoTime()
    ledger.originNanos = t0
    val late = new Array[Double](s.files.length)
    val gen = new Thread(() => {
      s.files.zipWithIndex.foreach { case (b, k) =>
        val due = t0 + (k + 1).toLong * TickMs * 1000000L
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        publishFile(s.dir, f"tick-$k%05d.json", b)
        late(k) = (System.nanoTime() - due) / 1e6
      }
    }, "perfbench-generator")
    gen.start(); gen.join()
    val must = s.expected.count(_ != 0L)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (ledger.acked.sum < must && System.nanoTime() < deadline) Thread.sleep(5)
    val end = System.nanoTime()
    q.stop()
    if (tracer.enabled) Engine.drainListeners(spark)
    spark.streams.removeListener(progress)
    tracer.record("stream", t0, end, 0L, root)
    val dueMicros = (i: Int) => i * 1000000L / Rate
    val ms = ledger.ackTimes.collect { case (i, a) if a > 0 => (a - dueMicros(i)) / 1000.0 }.toArray
    val wallS = (ledger.lastAckNanos.get - t0) / 1e9
    Measured(Seq(Pass(ledger, ms, wallS)), 0, (end - t0) / 1e9, engine.snapshot ++ progress.snapshot ++ Map(
      "keys.dropped" -> 0.0, "gen.late_p99_ms" -> Stats.percentile(late, 99)),
      expectedKeyDrops = 0)
  }

  /** Direct calls into the encode and sink layers, timed as spans (traced
    * runs only): the batch NDJSON reader, the publish transform, and
    * `BatchPut.publish` against an instantly acking putter. */
  def layerProbes(spark: SparkSession, dir: Path, keyed: Boolean, tracer: Tracer,
      records: Seq[BatchPut.Record]): Map[String, Double] = {
    def timed(name: String)(f: => Unit): Double = {
      val t0 = System.nanoTime(); tracer.span(name)(f); (System.nanoTime() - t0) / 1e9
    }
    var corrupt = 0L
    val parseS = timed("encode.readNdjson") {
      val (parsed, bad) = Pipeline.readNdjson(spark, dir.toString, Events.schema)
      parsed.write.format("noop").mode("overwrite").save()
      corrupt = bad.count()
    }
    val publishS = timed("encode.publishTransform") {
      val (parsed, _) = Pipeline.readNdjson(spark, dir.toString, Events.schema)
      val out = if (keyed) Pipeline.publishTransform(parsed, StreamsCfg)._1
        else Pipeline.firehoseTransform(parsed)
      out.write.format("noop").mode("overwrite").save()
    }
    val instant = new BatchPut.Putter {
      def put(rs: Seq[BatchPut.Record]): Seq[BatchPut.PutResult] = rs.map(_ => BatchPut.PutResult(None))
    }
    val cfg = if (keyed) StreamsCfg else FirehoseCfg
    val publishRecS = timed("sink.publish")(BatchPut.publish(instant, cfg, records))
    Map("encode.parse_s" -> parseS, "encode.publish_s" -> publishS,
      "encode.corrupt" -> corrupt.toDouble,
      "sink.publish_us_per_record" -> publishRecS * 1e6 / math.max(1, records.size))
  }
}

/** One pass of events through a delivery path: what the service side saw,
  * each delivered event's latency, and the time from start to last ack. */
final case class Pass(ledger: Ledger, latencyMs: Array[Double], ackWallS: Double)

/** What one delivery run measured: its passes, of which the first `warm`
  * were warm-up and are left out of the end-to-end metrics, its wall time
  * and the layer metrics over all passes. */
final case class Measured(passes: Seq[Pass], warm: Int, runWallS: Double,
    engine: Map[String, Double], expectedKeyDrops: Int)
