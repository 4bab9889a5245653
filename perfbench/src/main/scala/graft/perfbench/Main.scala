package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload, in this JVM.
  *
  * {{{ Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *          --work <scratch dir> --out <result dir> }}}
  *
  * Writes `result.json` (and `spans.jsonl` when tracing) to `--out`. The
  * wrapper `run.py` builds the classpath, isolates `--work` per run, checks
  * the row results against DuckDB and prints the summary line.
  */
object Main {
  val Workloads = Seq("ship_backlog", "ship_throttled", "rows")
  val SetupReps = 3
  val Cores = 4

  /** Every per-layer metric; a workload that does not exercise a layer
    * reports 0 for it. */
  val LayerNames: Seq[String] = Seq(
    "encode.parse_s", "encode.publish_s", "encode.bytes_out", "encode.corrupt", "keys.dropped",
    "sink.calls", "sink.records_sent", "sink.acked", "sink.dropped", "sink.dup",
    "sink.useful_ratio", "sink.call_p50_ms", "sink.call_p99_ms", "sink.in_put_s",
    "sink.publish_us_per_record",
    "stream.batches", "stream.batch_p50_ms", "stream.add_batch_s", "stream.commit_s",
    "stream.plan_s", "stream.get_batch_s", "gen.late_p99_ms",
    "plan.s", "sched.jobs", "sched.stages", "sched.tasks", "sched.overhead_s",
    "exec.task_s", "exec.cpu_s", "exec.gc_s", "exec.peak_mem_mb",
    "shuffle.read_mb", "shuffle.write_mb", "spill.mb",
    "analytics.s", "ext.similarity.s", "ext.text.s", "ext.dedup.s", "ext.curation.s",
    "ext.multimodal.s", "builds.train_s", "builds.layout_s", "builds.sigs_s")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, out: Path)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")), Paths.get(need("out")))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  /** What a run found: its operations, its checks and its numbers. */
  final case class Outcome(attempted: Long, failed: Long, checks: Map[String, Boolean],
      endToEnd: Map[String, Double], layers: Map[String, Double], detail: Seq[(String, String)])

  def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.out)
    val tracer = new Tracer(a.trace)
    val o = run(a, tracer)
    if (a.trace) {
      tracer.adopt("sink.put", "stream.batch")
      tracer.writeJsonl(a.out.resolve("spans.jsonl"))
    }
    val self = tracer.selfSeconds
    Files.writeString(a.out.resolve("result.json"), Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "attempted" -> o.attempted.toString, "failed" -> o.failed.toString,
      "checks" -> Json.obj(o.checks.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }),
      "end_to_end" -> Json.nums(o.endToEnd),
      "layers" -> Json.nums(LayerNames.map(_ -> 0.0).toMap ++ o.layers),
      "self_s" -> Json.nums(self)) ++ o.detail))
    sys.exit(exitCode(o))
  }

  /** Nonzero when any operation failed or any output check did not hold. */
  def exitCode(o: Outcome): Int = if (o.failed == 0 && o.checks.values.forall(identity)) 0 else 1

  /** Set up [[SetupReps]] times from scratch (session, inputs, warm-up) and
    * keep the last; set-up time is their median. Then measure. */
  def run(a: Args, tracer: Tracer): Outcome = {
    var spark: SparkSession = null
    var last: Path = null
    var staged: Ship.Staged = null
    val reps = (1 to SetupReps).map { r =>
      val t0 = System.nanoTime()
      if (spark != null) {
        spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      if (last != null) deleteTree(last)
      last = a.work.resolve(s"rep$r")
      spark = session(last)
      a.workload match {
        case "ship_backlog" =>
          staged = Ship.stageBacklog(a.seed, a.seconds, last.resolve("in"))
          Ship.warmBacklog(spark, a.seed, last)
        case "ship_throttled" =>
          staged = Ship.stageThrottled(a.seed, a.seconds, last.resolve("in"))
          Ship.warmThrottled(spark, a.seed, last)
        case "rows" =>
          TableGen.write(spark, last.resolve("data").toString, a.seed, Rows.Sf)
          Rows.resolve(graft.SparkEntry.queries, Seq("q01")).foreach { case (_, q) =>
            q(spark, last.resolve("data").toString).write.format("noop").mode("overwrite").save()
          }
      }
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = Stats.median(reps)
    // start the measured phase with a collected heap, not set-up's garbage
    System.gc()
    val engine = new EngineListener
    val o = a.workload match {
      case "rows" => rows(spark, a, last, tracer, engine)
      case w => ship(spark, a, w, staged, last, tracer, engine)
    }
    spark.stop()
    o.copy(endToEnd = o.endToEnd + ("setup_s" -> setupS),
      detail = o.detail :+ ("setup_reps_s" -> reps.map(Json.num).mkString("[", ",", "]")))
  }

  /** Median and tail latency, the tail at percentile `p`; none when
    * nothing completed. */
  private def latencyMetrics(ms: Array[Double], p: Int): (Map[String, Double], Seq[(String, String)]) =
    if (ms.isEmpty) (Map.empty, Nil)
    else (Map("latency_p50_ms" -> Stats.percentile(ms, 50), "latency_tail_ms" -> Stats.percentile(ms, p)),
      Seq("latency_samples" -> ms.length.toString, "latency_tail_percentile" -> p.toString))

  def ship(spark: SparkSession, a: Args, w: String, staged: Ship.Staged, rep: Path,
      tracer: Tracer, engine: EngineListener): Outcome = {
    val keyed = w == "ship_backlog"
    val Ship.Staged(_, expected, files) = staged
    if (a.trace) Engine.attach(spark, engine)
    val m =
      if (keyed) Ship.backlog(spark, a.seed, staged, rep, tracer, engine)
      else Ship.throttled(spark, a.seed, staged, rep, tracer, engine)
    val ls = m.passes.map(_.ledger)
    // every pass delivers every valid event once
    val must = expected.count(_ != 0L).toLong * ls.size
    val timed = m.passes.drop(m.warm)
    val perPass = timed.map(p => latencyMetrics(p.latencyMs, Stats.tailPercentile(p.latencyMs.length)))
    val endToEnd = (perPass.map(_._1) zip timed).map { case (lat, p) =>
      lat + ("throughput_per_s" -> p.ledger.acked.sum / p.ackWallS) }
    val probes =
      if (!a.trace) Map.empty[String, Double]
      else Ship.layerProbes(spark, staged.dir, keyed, tracer,
        files.iterator.flatMap(b => new String(b, "UTF-8").split('\n').iterator)
          .take(100000).map(s => graft.sink.BatchPut.Record((s + "\n").getBytes("UTF-8"), "k")).toSeq)
    val calls = ls.flatMap(_.callMillis).toArray
    def total(f: Ledger => java.util.concurrent.atomic.LongAdder): Long = ls.map(f(_).sum).sum
    val failed = ls.map(_.failedCount).sum
    val expectCorrupt = expected.indices.count(i => Events.kind(a.seed, i) == Events.Corrupt)
    val checks = Map(
      "every_event_acked_once_intact" -> (failed == 0L),
      "payload_digest" -> ls.forall(_.digest.sum == expected.sum)) ++
      (if (a.trace) Map(
        "corrupt_lines_dropped" -> (probes("encode.corrupt") == expectCorrupt),
        "keyless_events_dropped" -> (m.engine("keys.dropped") == m.expectedKeyDrops)) else Map.empty)
    val sink = Map(
      "sink.calls" -> total(_.calls).toDouble, "sink.records_sent" -> total(_.sent).toDouble,
      "sink.acked" -> total(_.acked).toDouble, "sink.dup" -> total(_.dup).toDouble,
      "sink.dropped" -> ls.map(_.ackTimes.count(_._2 == 0L)).sum.toDouble,
      "sink.useful_ratio" -> total(_.acked).toDouble / math.max(1L, total(_.sent)),
      "sink.call_p50_ms" -> (if (calls.isEmpty) 0.0 else Stats.percentile(calls, 50)),
      "sink.call_p99_ms" -> (if (calls.isEmpty) 0.0 else Stats.percentile(calls, 99)),
      "sink.in_put_s" -> calls.sum / 1e3, "encode.bytes_out" -> total(_.bytesOut).toDouble)
    val layers = if (!a.trace) Map.empty[String, Double] else
      m.engine ++ sink ++ probes +
        ("sched.overhead_s" -> (m.runWallS - m.engine("exec.task_s") / Cores))
    Outcome(must, failed, checks, medianOf(endToEnd), layers,
      perPass.head._2 ++ Seq("events_generated" -> expected.length.toString,
        "passes" -> ls.size.toString, "warm_passes" -> m.warm.toString,
        "ack_wall_s" -> m.passes.map(p => Json.num(p.ackWallS)).mkString("[", ",", "]"),
        "retried_records" -> total(_.rejected).toString))
  }

  /** Each metric's median over the passes that measured it. */
  def medianOf(passes: Seq[Map[String, Double]]): Map[String, Double] =
    passes.flatMap(_.keys).distinct.map(k => k -> Stats.median(passes.flatMap(_.get(k)))).toMap

  def rows(spark: SparkSession, a: Args, rep: Path, tracer: Tracer, engine: EngineListener): Outcome = {
    val dir = rep.resolve("data").toString
    val results = rep.resolve("results")
    val rows = Rows.resolve(graft.SparkEntry.queries, Rows.Sample)
    Files.createDirectories(results)
    Rows.writeOracles(rows, results)
    val (builds, rest) = rows.partition { case (name, _) => Rows.isBuild(name) }
    val firstUse = Rows.writeResults(spark, dir, builds, results, 1) ++
      Rows.writeResults(spark, dir, rest, results, Rows.CheckThreads)
    if (a.trace) { Engine.drainListeners(spark); Engine.attach(spark, engine) }
    System.gc()
    val root = tracer.reserve()
    val t0 = System.nanoTime()
    val drains = Rows.sweep(spark, dir, rows, Rows.Sweeps, tracer, root)
    val t1 = System.nanoTime()
    tracer.record("sweep", t0, t1, 0L, root)
    if (a.trace) Engine.drainListeners(spark)
    val layers = if (!a.trace) Map.empty[String, Double] else {
      val e = engine.snapshot
      e ++ Rows.moduleSeconds(drains) ++ Rows.buildSeconds(firstUse) +
        ("sched.overhead_s" -> ((t1 - t0) / 1e9 - e("exec.task_s") / Cores))
    }
    val best = Rows.bestSeconds(drains)
    val errors = Rows.errors(firstUse ++ drains)
    val (lat, latDetail) = latencyMetrics(best.map(_ * 1e3).toArray, Rows.TailPercentile)
    Outcome(rows.size, errors.size, Map("every_row_ran" -> errors.isEmpty),
      lat + ("throughput_per_s" -> best.size / best.sum), layers,
      latDetail ++ Seq(
        "sweep_wall_s" -> Json.num((t1 - t0) / 1e9),
        "first_pass_s" -> Json.num(firstUse.map(_.seconds).sum),
        "data_dir" -> Json.str(dir), "results_dir" -> Json.str(results.toString),
        "rows" -> Json.obj(rows.map { case (name, _) => name -> Json.obj(
          Seq("s" -> drains.filter(_.name == name).map(d => Json.num(d.seconds)).mkString("[", ",", "]")) ++
            errors.get(name).map(e => "error" -> Json.str(e))) })))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
}
