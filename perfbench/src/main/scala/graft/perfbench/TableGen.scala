package graft.perfbench

import java.time.LocalDateTime

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator of the tables the query rows read, in the column names
  * and parquet types of the engine's testdata: a TPC-H-like star schema, an
  * `events` table, a `documents` text corpus with injected near-duplicates,
  * and clustered unit-norm `embeddings`.
  *
  * Row counts follow the scale factor `sf` like the testdata (lineitem =
  * 6 M x sf); `documents` and `embeddings` keep a floor of 500 rows. Values
  * are drawn from `scala.util.Random(seed)` in a fixed order, so one seed
  * always yields the same bytes of table content. Timestamps are naive
  * (TIMESTAMP_NTZ), as in the testdata.
  */
object TableGen {

  private val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val adjectives = Array("small", "large", "hot", "old", "red", "new", "big", "cold")
  private val nouns = Array("ring", "plate", "widget", "rod", "bolt", "gear", "pipe", "valve")
  private val partTypes = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Array("click", "error", "purchase", "signup", "view")
  private val vocab = ("a agg batch big column customer data fast filter group hash join key " +
    "line merge order part query row scan slow small sort spark stream table the value " +
    "vector window").split(' ')
  private val langs = Array("en", "en", "en", "en", "de", "es", "fr", "zh", "en", "de")
  val dim = 64

  def rowCounts(sf: Double): Map[String, Int] = Map(
    "region" -> 5, "nation" -> 25,
    "customer" -> (150000 * sf).toInt, "supplier" -> (10000 * sf).toInt,
    "part" -> (200000 * sf).toInt, "orders" -> (1500000 * sf).toInt,
    "lineitem" -> (6000000 * sf).toInt, "events" -> (1000000 * sf).toInt,
    "documents" -> math.max(500, (50000 * sf).toInt),
    "embeddings" -> math.max(500, (20000 * sf).toInt))

  private def money(r: scala.util.Random, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def day(r: scala.util.Random, from: LocalDateTime, days: Int): LocalDateTime =
    from.plusDays(r.nextInt(days).toLong)

  /** Every table as (name, schema, rows), generated in a fixed order. */
  def tables(seed: Long, sf: Double): Seq[(String, StructType, IndexedSeq[Row])] = {
    val r = new scala.util.Random(seed)
    val n = rowCounts(sf)
    def pick[T](a: Array[T]): T = a(r.nextInt(a.length))
    val region = IndexedSeq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      .zipWithIndex.map { case (nm, i) => Row(i, nm) }
    val nation = (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))
    val customer = (0 until n("customer")).map(i => Row(i.toLong, f"Customer#$i%09d",
      r.nextInt(25), money(r, -999.99, 9999.99), pick(segments)))
    val supplier = (0 until n("supplier")).map(i => Row(i.toLong, f"Supplier#$i%09d",
      r.nextInt(25), money(r, -999.99, 9999.99)))
    val part = (0 until n("part")).map(i => Row(i.toLong, s"${pick(adjectives)} ${pick(nouns)}",
      s"Brand#${1 + r.nextInt(25)}", pick(partTypes), 1 + r.nextInt(50),
      900.0 + r.nextInt(1000) / 10.0))
    val orderStart = LocalDateTime.of(1995, 1, 1, 0, 0)
    // as in TPC-H, a third of the customers (custkey divisible by 3) never order
    def orderingCustomer(): Long = { val c = r.nextInt(n("customer") * 2 / 3); (c + c / 2 + 1).toLong }
    val orders = (0 until n("orders")).map(i => Row(i.toLong, orderingCustomer(),
      pick(Array("F", "O", "P")), money(r, 1000.0, 500000.0), day(r, orderStart, 2405),
      pick(priorities)))
    val shipStart = LocalDateTime.of(1995, 1, 2, 0, 0)
    val lineitem = (0 until n("lineitem")).map { _ =>
      val qty = (1 + r.nextInt(50)).toDouble
      Row(r.nextInt(n("orders")).toLong, r.nextInt(n("part")).toLong,
        r.nextInt(n("supplier")).toLong, 1 + r.nextInt(7), qty,
        math.round(qty * (900.0 + r.nextInt(1200)) * 100) / 100.0,
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        pick(Array("A", "N", "R")), pick(Array("F", "O")), day(r, shipStart, 2499))
    }
    val users = math.max(15, (15000 * sf).toInt)
    val evStart = LocalDateTime.of(2024, 1, 1, 0, 0)
    val meanGapMicros = 30L * 86400L * 1000000L / math.max(1, n("events"))
    var tsMicros = 0L
    val events = (0 until n("events")).map { i =>
      tsMicros += 1 + (-math.log(1.0 - r.nextDouble()) * meanGapMicros).toLong
      Row(i.toLong, evStart.plusNanos(tsMicros * 1000L), r.nextInt(users).toLong,
        pick(eventTypes), math.round(-math.log(1.0 - r.nextDouble()) * 4000) / 100.0 + 0.01,
        s"""{"k": ${r.nextInt(100)}}""")
    }
    // (text, lang) of every document so far; a copy keeps its source's
    // language, so the per-language dedup rows always find pairs
    val texts = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val documents = (0 until n("documents")).map { i =>
      val (text, lang) =
        if (i > 10 && r.nextInt(20) == 0) {
          // a near-duplicate: an earlier document's prefix plus a marker word
          val (src, l) = texts(r.nextInt(texts.length))
          (src.take(math.max(20, src.length / 2)).trim + " dup", l)
        } else if (i > 10 && r.nextInt(50) == 0) texts(r.nextInt(texts.length))
        else (Seq.fill(8 + r.nextInt(80))(pick(vocab)).mkString(" "), pick(langs))
      texts += (text -> lang)
      Row(i.toLong, text, lang, s"src${i % 20}", text.length.toLong)
    }
    val centers = Array.fill(10, dim)(r.nextGaussian())
    val embeddings = (0 until n("embeddings")).map { i =>
      val label = r.nextInt(10)
      val v = Array.tabulate(dim)(d => centers(label)(d) + 0.6 * r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
    }
    def st(fields: (String, DataType)*): StructType =
      StructType(fields.map { case (nm, t) => StructField(nm, t) })
    val ts = TimestampNTZType
    Seq(
      ("region", st("r_regionkey" -> IntegerType, "r_name" -> StringType), region),
      ("nation", st("n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType), nation),
      ("customer", st("c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
        "c_mktsegment" -> StringType), customer),
      ("supplier", st("s_suppkey" -> LongType, "s_name" -> StringType,
        "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType), supplier),
      ("part", st("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
        "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType), part),
      ("orders", st("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType, "o_orderdate" -> ts,
        "o_orderpriority" -> StringType), orders),
      ("lineitem", st("l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
        "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType, "l_shipdate" -> ts), lineitem),
      ("events", st("event_id" -> LongType, "ts" -> ts, "user_id" -> LongType,
        "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType), events),
      ("documents", st("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
        "source" -> StringType, "n_chars" -> LongType), documents),
      ("embeddings", st("vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
        "label" -> IntegerType), embeddings))
  }

  /** Write every table as `<dir>/<name>.parquet` (one part file each). */
  def write(spark: SparkSession, dir: String, seed: Long, sf: Double): Unit =
    tables(seed, sf).foreach { case (name, schema, rows) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
}
