package graftbench

import java.time.LocalDateTime
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** A small synthetic copy of the engine's star schema: the same ten
  * tables, column names, types and value domains as its test data, at
  * about 1/50 of sf0.1, so each query's cost is its fixed per-query
  * cost. The generator seed is fixed: query_suite's results are pinned,
  * and its run seed only permutes the query order.
  */
object StarSchema {
  val Seed = 20240601L
  val Orders = 3000
  val LineItems = 12000
  val Customers = 300
  val Suppliers = 20
  val Parts = 400
  val Events = 2000
  val Users = 60
  val DocCount = 200
  val Vectors = 200
  val Dim = 64
  val Labels = 10

  private val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val PartTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Adjectives = Seq("small", "large", "red", "blue", "hot", "old", "new", "cold")
  private val Nouns = Seq("ring", "widget", "bolt", "gear", "gizmo", "plate", "screw", "valve")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Seq("click", "view", "purchase", "signup", "error")
  private val Langs = Seq("en", "de", "fr", "es", "zh")
  private val Words = ("a the data spark table query column row key value join group order sort " +
    "hash scan filter merge window stream batch vector part line customer agg big small fast slow").split(' ')

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def day(r: SplittableRandom, from: LocalDateTime, days: Int): LocalDateTime =
    from.plusDays(r.nextInt(days).toLong)

  private def f(name: String, t: DataType) = StructField(name, t)

  /** Writes `<dir>/<table>.parquet` for all ten tables; returns row counts. */
  def write(spark: SparkSession, dir: String): Seq[(String, Long)] = {
    val r = new SplittableRandom(Seed)
    val d95 = LocalDateTime.of(1995, 1, 1, 0, 0)
    val tables = Seq[(String, StructType, Seq[Row])](
      ("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
        Regions.indices.map(i => Row(i, Regions(i)))),
      ("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType), f("n_regionkey", IntegerType))),
        (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))),
      ("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType), f("c_nationkey", IntegerType),
        f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
        (0 until Customers).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
          money(r, -999.99, 9999.99), Segments(r.nextInt(Segments.size))))),
      ("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType), f("s_nationkey", IntegerType),
        f("s_acctbal", DoubleType))),
        (0 until Suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99)))),
      ("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType), f("p_brand", StringType),
        f("p_type", StringType), f("p_size", IntegerType), f("p_retailprice", DoubleType))),
        (0 until Parts).map(i => Row(i.toLong,
          s"${Adjectives(r.nextInt(Adjectives.size))} ${Nouns(r.nextInt(Nouns.size))}",
          s"Brand#${1 + r.nextInt(25)}", PartTypes(r.nextInt(PartTypes.size)), 1 + r.nextInt(50),
          900.0 + (i % 1000) / 10.0))),
      ("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType), f("o_orderstatus", StringType),
        f("o_totalprice", DoubleType), f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
        (0 until Orders).map(i => Row(i.toLong, r.nextInt(Customers).toLong, Seq("O", "F", "P")(r.nextInt(3)),
          money(r, 1000, 500000), day(r, d95, 2404), Priorities(r.nextInt(Priorities.size))))),
      ("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType), f("l_suppkey", LongType),
        f("l_linenumber", IntegerType), f("l_quantity", DoubleType), f("l_extendedprice", DoubleType),
        f("l_discount", DoubleType), f("l_tax", DoubleType), f("l_returnflag", StringType),
        f("l_linestatus", StringType), f("l_shipdate", TimestampNTZType))),
        (0 until LineItems).map(_ => Row(r.nextInt(Orders).toLong, r.nextInt(Parts).toLong,
          r.nextInt(Suppliers).toLong, 1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble,
          money(r, 900, 105000), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          Seq("A", "N", "R")(r.nextInt(3)), Seq("O", "F")(r.nextInt(2)), day(r, d95.plusDays(1), 2498)))),
      ("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType), f("user_id", LongType),
        f("event_type", StringType), f("value", DoubleType), f("props", StringType))), {
        val start = LocalDateTime.of(2024, 1, 1, 0, 0)
        val offs = Array.fill(Events)(r.nextLong(30L * 86400L * 1000000L)).sorted
        (0 until Events).map(i => Row(i.toLong, start.plusNanos(offs(i) * 1000L), r.nextInt(Users).toLong,
          EventTypes(r.nextInt(EventTypes.size)), money(r, 0.01, 490.02), s"""{"k": ${r.nextInt(100)}}"""))
      }),
      ("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType), f("lang", StringType),
        f("source", StringType), f("n_chars", LongType))),
        {
          // one document in five is a near-copy (one word changed) of an
          // earlier one, so the dedup family has duplicates to find
          val texts = scala.collection.mutable.ArrayBuffer.empty[String]
          (0 until DocCount).map { i =>
            val text = if (i >= 10 && r.nextInt(5) == 0) {
              val base = texts(r.nextInt(i)).split(' ')
              base(r.nextInt(base.length)) = Words(r.nextInt(Words.length))
              base.mkString(" ")
            } else Seq.fill(10 + r.nextInt(80))(Words(r.nextInt(Words.length))).mkString(" ")
            texts += text
            Row(i.toLong, text, Langs(r.nextInt(Langs.size)), s"src${r.nextInt(20)}", text.length.toLong)
          }
        }),
      ("embeddings", StructType(Seq(f("vec_id", LongType), f("embedding", ArrayType(FloatType)), f("label", IntegerType))), {
        val centers = Array.fill(Labels, Dim)(r.nextGaussian() * 0.15)
        (0 until Vectors).map { i =>
          val l = r.nextInt(Labels)
          Row(i.toLong, centers(l).map(c => (c + r.nextGaussian() * 0.05).toFloat).toSeq, l)
        }
      }))
    tables.map { case (name, schema, rows) =>
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.parquet(s"$dir/$name.parquet")
      name -> rows.size.toLong
    }
  }
}
