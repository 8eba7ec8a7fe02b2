package perfbench

import java.sql.Timestamp
import java.time.LocalDateTime

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded star-schema tables (the shape `graft.Tables` loads: TPC-H-ish
  * dimensions and facts, an `events` stream table, documents and
  * embeddings), written as parquet under one directory. Small on
  * purpose: the analytics suite measures planning, codegen and task
  * scheduling over many queries, not scan bandwidth.
  */
object AnalyticsData {

  val Customers = 300
  val Suppliers = 20
  val Parts = 400
  val Orders = 3000
  val EventsN = 2000
  val EventUsers = 30
  val Documents = 500
  val Embeddings = 500
  val Dim = 64

  private val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val adjectives = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val nouns = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")
  private val langs = Seq("de", "en", "es", "fr", "zh")
  private val docWords = Seq("a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")

  private def money(r: java.util.SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def day(r: java.util.SplittableRandom, from: LocalDateTime, days: Int): LocalDateTime =
    from.plusDays(r.nextInt(days).toLong)

  def write(spark: SparkSession, dir: String, seed: Long): Unit = {
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def f(n: String, t: DataType) = StructField(n, t, nullable = true)
    val r = Gen.rng(seed, 100)

    save("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      regions.zipWithIndex.map { case (n, i) => Row(i, n) })
    save("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    save("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until Customers).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        money(r, -999.99, 9999.99), segments(r.nextInt(segments.size)))))
    save("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until Suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        money(r, -999.99, 9999.99))))
    save("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until Parts).map(i => Row(i.toLong,
        adjectives(r.nextInt(adjectives.size)) + " " + nouns(r.nextInt(nouns.size)),
        s"Brand#${1 + r.nextInt(25)}", types(r.nextInt(types.size)), 1 + r.nextInt(50),
        math.round((900.0 + (i % 1000) * 0.1) * 100) / 100.0)))
    val base = LocalDateTime.of(1995, 1, 1, 0, 0)
    val orderRows = (0 until Orders).map(i => Row(i.toLong, r.nextInt(Customers).toLong,
      Seq("F", "O", "P")(r.nextInt(3)), money(r, 1000, 500000), day(r, base, 2400),
      priorities(r.nextInt(priorities.size))))
    save("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))), orderRows)
    val lines = orderRows.flatMap { o =>
      val ok = o.getLong(0)
      val od = o.getAs[LocalDateTime](4)
      (1 to 1 + r.nextInt(7)).map { ln =>
        val q = (1 + r.nextInt(50)).toDouble
        Row(ok, r.nextInt(Parts).toLong, r.nextInt(Suppliers).toLong, ln, q,
          money(r, 900, 105000), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          Seq("A", "N", "R")(r.nextInt(3)), Seq("F", "O")(r.nextInt(2)),
          od.plusDays(1L + r.nextInt(120)))
      }
    }
    save("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampNTZType))), lines)
    val evBase = LocalDateTime.of(2024, 1, 1, 0, 0)
    val evTimes = (0 until EventsN).map(_ => r.nextLong(30L * 86400L * 1000000L)).sorted
    save("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      evTimes.zipWithIndex.map { case (us, i) => Row(i.toLong,
        evBase.plusNanos(us * 1000L), r.nextInt(EventUsers).toLong,
        eventTypes(r.nextInt(eventTypes.size)), money(r, 0.01, 330),
        s"""{"k": ${r.nextInt(100)}}""") })
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until Documents).foreach { i =>
      val t =
        if (i > 10 && r.nextInt(10) == 0) {
          // a near-duplicate of an earlier document: one word changed
          val ws = texts(r.nextInt(texts.size)).split(" ")
          ws(r.nextInt(ws.length)) = docWords(r.nextInt(docWords.size))
          ws.mkString(" ")
        } else
          (0 until 8 + r.nextInt(90)).map(_ => docWords(r.nextInt(docWords.size))).mkString(" ")
      texts += (if (texts.contains(t)) t + " dup" else t)
    }
    save("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t, langs(r.nextInt(langs.size)),
        s"src${r.nextInt(20)}", t.length.toLong) }.toSeq)
    val centers = Array.fill(10, Dim)(r.nextDouble() * 2 - 1)
    save("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType, containsNull = true)), f("label", IntegerType))),
      (0 until Embeddings).map { i =>
        val label = r.nextInt(10)
        val v = Array.tabulate(Dim)(d => (centers(label)(d) * 0.15 + (r.nextDouble() - 0.5) * 0.1).toFloat)
        Row(i.toLong, v.toSeq, label)
      })
  }
}
