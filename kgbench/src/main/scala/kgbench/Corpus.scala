package kgbench

import java.time.LocalDateTime
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator of the base corpus: the ten tables the pipeline and
  * the query modules read (`region nation customer supplier part orders
  * lineitem events documents embeddings`), with the column names, types
  * and value shapes of the driver's TPC-H-ish test data. Sizes follow that
  * data's scale factor `sf` (sf 0.001 = 1,500 orders and 6,000 line items).
  *
  * The same (seed, sf) gives byte-identical rows; values are drawn on the
  * driver from one SplittableRandom per table.
  */
object Corpus {

  private def day(rnd: SplittableRandom, from: LocalDateTime, days: Int) =
    from.plusDays(rnd.nextInt(days).toLong)

  private def money(rnd: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + rnd.nextDouble() * (hi - lo)) * 100) / 100.0

  private val d1995 = LocalDateTime.of(1995, 1, 1, 0, 0)

  def write(spark: SparkSession, dir: String, seed: Long, sf: Double): Unit = {
    def n(perSf: Double): Int = math.max(1, math.round(perSf * sf).toInt)
    def rng(table: Int) = new SplittableRandom(seed * 7919L + table)
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def fields(fs: (String, DataType)*) =
      StructType(fs.map { case (k, t) => StructField(k, t) })

    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrders = n(1500000); val nLines = n(6000000); val nEvents = n(1000000)
    val nDocs = math.max(500, n(50000)); val nVecs = math.max(500, n(20000))

    save("region", fields("r_regionkey" -> IntegerType, "r_name" -> StringType),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (r, i) => Row(i, r) })
    save("nation", fields("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val r1 = rng(1)
    save("customer", fields("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", r1.nextInt(25),
        money(r1, -999.99, 9999.99), segments(r1.nextInt(5)))))

    val r2 = rng(2)
    save("supplier", fields("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", r2.nextInt(25),
        money(r2, -999.99, 9999.99))))

    val adj = Vector("small", "hot", "red", "blue", "large", "old", "cold", "new")
    val noun = Vector("widget", "gear", "plate", "bolt", "ring", "rod", "gizmo", "anvil")
    val types = Vector("MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY")
    val r3 = rng(3)
    save("part", fields("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType, "p_size" -> IntegerType,
      "p_retailprice" -> DoubleType),
      (0 until nPart).map(i => Row(i.toLong, s"${adj(r3.nextInt(8))} ${noun(r3.nextInt(8))}",
        s"Brand#${1 + r3.nextInt(25)}", types(r3.nextInt(6)), 1 + r3.nextInt(50),
        math.round(9000 + i % 1000) / 10.0)))

    val prio = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val r4 = rng(4)
    save("orders", fields("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
      (0 until nOrders).map(i => Row(i.toLong, r4.nextInt(nCust).toLong,
        "FOP".charAt(r4.nextInt(3)).toString, money(r4, 1000, 500000),
        day(r4, d1995, 2404), prio(r4.nextInt(5)))))

    // like the driver's data, (l_orderkey, l_linenumber) is not unique
    val r5 = rng(5)
    save("lineitem", fields("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
      "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
      (0 until nLines).map { _ =>
        val qty = (1 + r5.nextInt(50)).toDouble
        Row(r5.nextInt(nOrders).toLong, r5.nextInt(nPart).toLong, r5.nextInt(nSupp).toLong,
          1 + r5.nextInt(7), qty, money(r5, qty * 900, qty * 3000),
          r5.nextInt(11) / 100.0, r5.nextInt(9) / 100.0,
          "RAN".charAt(r5.nextInt(3)).toString, "OF".charAt(r5.nextInt(2)).toString,
          day(r5, d1995.plusDays(1), 2498))
      })

    val evTypes = Vector("signup", "error", "click", "view", "purchase")
    val r6 = rng(6)
    val gapMicros = 30L * 86400 * 1000000 / nEvents
    var ts = LocalDateTime.of(2024, 1, 1, 0, 0)
    save("events", fields("event_id" -> LongType, "ts" -> TimestampNTZType,
      "user_id" -> LongType, "event_type" -> StringType, "value" -> DoubleType,
      "props" -> StringType),
      (0 until nEvents).map { i =>
        ts = ts.plusNanos(1000L * (1 + r6.nextLong(2 * gapMicros)))
        Row(i.toLong, ts, r6.nextInt(math.max(10, n(150000) / 10)).toLong,
          evTypes(r6.nextInt(5)),
          math.max(0.01, math.round(-50 * math.log(1 - r6.nextDouble()) * 100) / 100.0),
          s"""{"k": ${r6.nextInt(100)}}""")
      })

    // 5% of documents are an earlier document plus " dup" (near-duplicates)
    val words = Vector("join", "hash", "row", "batch", "scan", "column", "customer",
      "filter", "small", "slow", "merge", "vector", "order", "line", "table", "data",
      "agg", "value", "key", "stream", "window", "spark", "a", "part", "group", "big",
      "sort", "query", "fast", "the")
    val langs = Vector("en", "en", "en", "zh", "es", "de", "fr")
    val r7 = rng(7)
    val texts = new Array[String](nDocs)
    save("documents", fields("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
      (0 until nDocs).map { i =>
        texts(i) =
          if (i > 0 && r7.nextInt(20) == 0) texts(r7.nextInt(i)) + " dup"
          else Seq.fill(10 + r7.nextInt(90))(words(r7.nextInt(words.size))).mkString(" ")
        Row(i.toLong, texts(i), langs(r7.nextInt(langs.size)), s"src${i % 20}",
          texts(i).length.toLong)
      })

    // unit vectors with a weak pull towards one of ten label centres
    val r8 = rng(8)
    def unit(v: Array[Double]): Array[Double] = {
      val norm = math.sqrt(v.map(x => x * x).sum); v.map(_ / norm)
    }
    val centres = Vector.fill(10)(unit(Array.fill(64)(r8.nextDouble() - 0.5)))
    save("embeddings", fields("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType, containsNull = true), "label" -> IntegerType),
      (0 until nVecs).map { i =>
        val label = r8.nextInt(10)
        val v = unit(Array.tabulate(64)(j => centres(label)(j) * 1.2 + r8.nextGaussian()))
        Row(i.toLong, v.map(_.toFloat).toSeq, label)
      })
  }
}
