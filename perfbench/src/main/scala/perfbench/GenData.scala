package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Writes the benchmark's input tables: the TPC-H-like star schema plus the
  * `events`, `documents` and `embeddings` tables every query module reads,
  * with the column names and types `graft.Engine.table` expects.
  *
  * The rows are a pure function of the scale factor: each table draws from
  * its own `java.util.Random` with a fixed seed, so every checkout writes
  * identical inputs and the recorded output digests stay valid. Row counts
  * follow TPC-H's per-sf ratios (1500 customers, 60 000 line items at
  * sf0.01); documents and embeddings never drop below 500 rows.
  *
  * Usage: `perfbench.GenData <outDir> <sf>`
  */
object GenData {

  private val Vocab = Seq(
    "join", "hash", "row", "batch", "scan", "column", "customer", "filter", "small", "slow",
    "merge", "order", "vector", "line", "table", "data", "agg", "value", "key", "stream",
    "window", "a", "spark", "part", "group", "big", "sort", "query", "fast", "the")

  private val Epoch1995 = java.time.Instant.parse("1995-01-01T00:00:00Z").toEpochMilli
  private val Epoch2024 = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
  private val DayMs     = 86400000L

  private def round2(x: Double): Double = math.round(x * 100) / 100.0

  def tables(sf: Double): Seq[(String, StructType, Seq[Row])] = {
    val nCust  = math.max(15, (150000 * sf).round.toInt)
    val nSupp  = math.max(5, (10000 * sf).round.toInt)
    val nPart  = math.max(20, (200000 * sf).round.toInt)
    val nOrd   = nCust * 10
    val nLine  = nOrd * 4
    val nEvent = math.max(100, (1000000 * sf).round.toInt)
    val nDoc   = math.max(500, (50000 * sf).round.toInt)
    val nEmb   = math.max(500, (20000 * sf).round.toInt)
    val nUsers = math.max(5, nCust / 10)

    def rng(table: Int) = new java.util.Random(0x5eedL * 31 + table)
    def pick[T](r: java.util.Random, xs: Seq[T]): T = xs(r.nextInt(xs.size))

    val region = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
      .map { case (n, i) => Row(i, n) }
    val nation = (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))

    val r1 = rng(1)
    val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val customer = (0 until nCust).map { i =>
      Row(i.toLong, f"Customer#$i%09d", r1.nextInt(25), round2(-999.99 + r1.nextDouble() * 10999.98),
        pick(r1, segments))
    }

    val r2 = rng(2)
    val supplier = (0 until nSupp).map { i =>
      Row(i.toLong, f"Supplier#$i%09d", r2.nextInt(25), round2(-999.99 + r2.nextDouble() * 10999.98))
    }

    val r3 = rng(3)
    val adjectives = Seq("small", "large", "red", "blue", "hot", "cold", "old", "new")
    val nouns      = Seq("bolt", "gear", "ring", "rod", "plate", "widget", "anvil", "gizmo")
    val types      = Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
    val part = (0 until nPart).map { i =>
      Row(i.toLong, s"${pick(r3, adjectives)} ${pick(r3, nouns)}", s"Brand#${1 + r3.nextInt(25)}",
        pick(r3, types), 1 + r3.nextInt(50), round2(900.0 + (i % 1000) * 0.1))
    }

    val r4 = rng(4)
    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val orders = (0 until nOrd).map { i =>
      Row(i.toLong, r4.nextInt(nCust).toLong, pick(r4, Seq("F", "O", "P")),
        round2(1000.0 + r4.nextDouble() * 499000.0),
        new Timestamp(Epoch1995 + r4.nextInt(2404).toLong * DayMs), pick(r4, priorities))
    }

    val r5 = rng(5)
    val lineitem = (0 until nLine).map { _ =>
      val qty = (1 + r5.nextInt(50)).toDouble
      Row(r5.nextInt(nOrd).toLong, r5.nextInt(nPart).toLong, r5.nextInt(nSupp).toLong,
        1 + r5.nextInt(7), qty, round2(qty * (900.0 + r5.nextDouble() * 1200.0)),
        r5.nextInt(11) / 100.0, r5.nextInt(9) / 100.0, pick(r5, Seq("A", "N", "R")),
        pick(r5, Seq("F", "O")), new Timestamp(Epoch1995 + (1 + r5.nextInt(2498)).toLong * DayMs))
    }

    val r6 = rng(6)
    val span = 30L * DayMs * 1000L // 30 days, in microseconds
    val eventTs = Seq.fill(nEvent)((r6.nextDouble() * span).toLong).sorted
    val eventTypes = Seq("click", "view", "purchase", "signup", "error")
    val events = eventTs.zipWithIndex.map { case (us, i) =>
      val ts = new Timestamp(Epoch2024 + us / 1000)
      ts.setNanos(((us % 1000000) * 1000).toInt)
      Row(i.toLong, ts, r6.nextInt(nUsers).toLong, pick(r6, eventTypes),
        round2(0.01 - 50.0 * StrictMath.log(1.0 - r6.nextDouble() * 0.9999)), s"""{"k": ${r6.nextInt(100)}}""")
    }

    // ~5% of documents are near-duplicates of an earlier one (its text plus
    // " dup"), so the dedup, MinHash and winnowing operators have work.
    val r7 = rng(7)
    val langs = Seq("en", "en", "en", "fr", "es", "de", "zh")
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    val documents = (0 until nDoc).map { i =>
      val text =
        if (i > 20 && r7.nextInt(20) == 0) texts(r7.nextInt(texts.size)) + " dup"
        else {
          val words = Seq.fill(8 + r7.nextInt(85))(pick(r7, Vocab)).mkString(" ")
          words.take(48 + r7.nextInt(506)).trim
        }
      texts += text
      Row(i.toLong, text, pick(r7, langs), s"src${i % 20}", text.length.toLong)
    }

    // unit vectors around ten weak label centroids
    val r8 = rng(8)
    val dim = 64
    val centroids = Seq.fill(10)(Array.fill(dim)(r8.nextGaussian()))
      .map(c => { val n = math.sqrt(c.map(x => x * x).sum); c.map(_ / n) })
    val embeddings = (0 until nEmb).map { i =>
      val label = r8.nextInt(10)
      val v = Array.tabulate(dim)(d => 0.15 * centroids(label)(d) + r8.nextGaussian() / 8.0)
      val n = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / n).toFloat).toSeq, label)
    }

    def schema(fields: (String, DataType)*) =
      StructType(fields.map { case (n, t) => StructField(n, t) })
    Seq(
      ("region", schema("r_regionkey" -> IntegerType, "r_name" -> StringType), region),
      ("nation", schema("n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType), nation),
      ("customer", schema("c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
        customer),
      ("supplier", schema("s_suppkey" -> LongType, "s_name" -> StringType,
        "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType), supplier),
      ("part", schema("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
        "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType), part),
      ("orders", schema("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
        "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType), orders),
      ("lineitem", schema("l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
        "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType,
        "l_shipdate" -> TimestampType), lineitem),
      ("events", schema("event_id" -> LongType, "ts" -> TimestampType, "user_id" -> LongType,
        "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType), events),
      ("documents", schema("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
        "source" -> StringType, "n_chars" -> LongType), documents),
      ("embeddings", schema("vec_id" -> LongType, "embedding" -> ArrayType(FloatType, false),
        "label" -> IntegerType), embeddings)
    )
  }

  def write(spark: SparkSession, outDir: String, sf: Double): Unit =
    tables(sf).foreach { case (name, schema, rows) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1)
        .write
        .mode("overwrite")
        .option("compression", "snappy")
        .parquet(s"$outDir/$name.parquet")
    }

  def main(args: Array[String]): Unit = {
    val Array(outDir, sf) = args
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    write(spark, outDir, sf.toDouble)
    spark.stop()
  }
}
