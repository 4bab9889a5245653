package graft.perfbench

import java.nio.file.{Files, Path}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query-row workload: a fixed sample of `SparkEntry.queries` on
  * freshly generated tables.
  *
  * An untimed first pass writes every row's result for the oracle check;
  * it is also the warm-up and the first use of every derived store, as
  * Bench's warm-up and build sections are. The build rows run first and
  * alone, so their first-use time is theirs. [[Sweeps]] interleaved timed
  * sweeps then drain each row to the `noop` sink, and each row counts with
  * its best drain, as Bench's min-of-sweeps does. */
object Rows {
  /** Scale of the generated tables: the oracle-gate scale. */
  val Sf = 0.001

  /** Eighteen rows spread over every module roughly in proportion to its
    * row count, including four of the slowest rows of the committed sf0.1
    * sweep (q37, q51, t19, c05) and one first-use build of each kind: q38's
    * bucketed layout, t27's BPE merge table and d06's simhash signatures.
    * Named by id prefix.
    *
    * The brute-force kNN rows s01_knn_brute and s14_filtered_knn are left
    * out until they agree with their oracles on every input: on some seeds'
    * tables their results differ from DuckDB's (s01 rounds the cosine to 6
    * and then to 4 decimals, and where the 6-decimal value ends in 50 Spark's
    * decimal half-up and DuckDB's binary rounding go opposite ways). */
  val Sample: Seq[String] = Seq(
    "q01", "q07", "q26", "q37", "q38", "q51",
    "s30", "s31",
    "t01", "t17", "t19", "t27",
    "d01", "d04", "d06",
    "c05", "c15",
    "m02")

  val CheckThreads = 4
  val Sweeps = 3
  /** With one best time per row, the tail is the row at p90: the second
    * slowest of eighteen. */
  val TailPercentile = 90

  val Builds: Map[String, String] = Map("q38" -> "layout", "t27" -> "train", "d06" -> "sigs")

  val Modules: Seq[(Char, String)] = Seq('q' -> "analytics", 's' -> "ext.similarity",
    't' -> "ext.text", 'd' -> "ext.dedup", 'c' -> "ext.curation", 'm' -> "ext.multimodal")

  type Query = (SparkSession, String) => DataFrame

  /** Resolve each id prefix to the one row it names. */
  def resolve(all: Map[String, Query], ids: Seq[String]): Seq[(String, Query)] = ids.map { id =>
    all.keys.filter(_.startsWith(id + "_")).toSeq match {
      case Seq(name) => name -> all(name)
      case other => throw new IllegalStateException(s"row id $id matches ${other.size} rows")
    }
  }

  final case class Drain(name: String, seconds: Double, error: Option[String])

  /** Drain every row once per sweep, `sweeps` times, each drain timed; a
    * row that throws is recorded, not retried, and the sweep goes on. */
  def sweep(spark: SparkSession, dir: String, rows: Seq[(String, Query)], sweeps: Int,
      tracer: Tracer, parent: Long): Seq[Drain] =
    (1 to sweeps).flatMap { _ =>
      rows.map { case (name, q) =>
        val t0 = System.nanoTime()
        val err = try {
          q(spark, dir).write.format("noop").mode("overwrite").save(); None
        } catch { case NonFatal(e) => Some(e.toString.linesIterator.nextOption().getOrElse("").take(200)) }
        val t1 = System.nanoTime()
        tracer.record("row:" + name, t0, t1, parent)
        Drain(name, (t1 - t0) / 1e9, err)
      }
    }

  /** Untimed pass: write each row's result for the oracle comparison,
    * `threads` rows at a time; returns each row's wall time and error. */
  def writeResults(spark: SparkSession, dir: String, rows: Seq[(String, Query)], out: Path,
      threads: Int): Seq[Drain] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try rows.map { case (name, q) =>
      pool.submit(() => {
        val t0 = System.nanoTime()
        val err = try { q(spark, dir).write.mode("overwrite").parquet(out.resolve(name).toString); None }
          catch { case NonFatal(e) => Some(e.toString.linesIterator.nextOption().getOrElse("").take(200)) }
        Drain(name, (System.nanoTime() - t0) / 1e9, err)
      })
    }.map(_.get()) finally pool.shutdown()
  }

  def writeOracles(rows: Seq[(String, Query)], out: Path): Unit = {
    val oracles = graft.SparkEntry.oracleSql
    Files.writeString(out.resolve("oracle_sql.json"), Json.obj(
      rows.flatMap { case (name, _) => oracles.get(name).map(sql => name -> Json.str(sql)) }))
  }

  /** Each row's best drain time over the sweeps; drains that threw are left
    * out (they fail the run). */
  def bestSeconds(drains: Seq[Drain]): Seq[Double] =
    drains.filter(_.error.isEmpty).groupBy(_.name).values.map(_.map(_.seconds).min).toSeq

  /** The first error of each row that threw in any pass. */
  def errors(drains: Seq[Drain]): Map[String, String] =
    drains.reverse.collect { case Drain(name, _, Some(e)) => name -> e }.toMap

  /** Busy seconds per module. */
  def moduleSeconds(drains: Seq[Drain]): Map[String, Double] =
    Modules.map { case (p, m) => s"$m.s" -> drains.filter(_.name.head == p).map(_.seconds).sum }.toMap

  def isBuild(name: String): Boolean = Builds.keys.exists(id => name.startsWith(id + "_"))

  /** First-use time of each build row, by build kind. */
  def buildSeconds(firstUse: Seq[Drain]): Map[String, Double] =
    Builds.map { case (id, kind) =>
      s"builds.${kind}_s" -> firstUse.filter(_.name.startsWith(id + "_")).map(_.seconds).sum }
}
