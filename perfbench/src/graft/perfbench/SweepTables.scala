package graft.perfbench

import java.sql.Timestamp
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded stand-in for the operator surface's table directory: the same
  * table names and schemas `SparkEntry.queries` read (a TPC-H-like star
  * schema, an `events` stream, `documents` with near-duplicate text and
  * `embeddings` with ten labeled clusters), at a few hundred rows each.
  * The same seed writes the same rows.
  */
object SweepTables {
  private val Vocab = Array("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")
  private val Langs = Array("en", "en", "en", "zh", "de", "fr", "es")

  def write(spark: SparkSession, dir: String, seed: Long, docs: Int): Unit = {
    val rng = new scala.util.Random(seed)
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def ts(sec: Long) = new Timestamp(1704067200000L + sec * 1000L)

    // documents: ~20% near-duplicates (a word dropped, " dup" appended) and
    // a few exact copies of earlier docs
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until docs).foreach { i =>
      val r = rng.nextDouble()
      val t =
        if (i > 10 && r < 0.04) texts(rng.nextInt(i))
        else if (i > 10 && r < 0.22) {
          val w = texts(rng.nextInt(i)).split(' ').toBuffer
          if (w.length > 4) w.remove(rng.nextInt(w.length))
          (w :+ "dup").mkString(" ")
        } else Array.fill(10 + rng.nextInt(90))(Vocab(rng.nextInt(Vocab.length))).mkString(" ")
      texts += t
    }
    save("documents", StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType), StructField("n_chars", LongType))),
      texts.zipWithIndex.map { case (t, i) =>
        Row(i.toLong, t, Langs(rng.nextInt(Langs.length)), s"src${rng.nextInt(20)}", t.length.toLong)
      }.toSeq)

    val centroids = Array.fill(10)(Array.fill(64)(rng.nextGaussian()))
    save("embeddings", StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType))),
      (0 until docs).map { i =>
        val label = rng.nextInt(10)
        val v = centroids(label).map(_ + 0.35 * rng.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })

    val evTypes = Array("click", "signup", "error", "view", "purchase")
    var t = 0L
    save("events", StructType(Seq(StructField("event_id", LongType), StructField("ts", TimestampType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("props", StringType))),
      (0 until 2 * docs).map { i =>
        t += 1 + rng.nextInt(600)
        Row(i.toLong, ts(t), rng.nextInt(150).toLong, evTypes(rng.nextInt(5)),
          math.round(rng.nextDouble() * 5000) / 100.0, s"""{"k": ${rng.nextInt(100)}}""")
      })

    save("region", StructType(Seq(StructField("r_regionkey", IntegerType), StructField("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex.map { case (n, i) => Row(i, n) })
    save("nation", StructType(Seq(StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION$i", i % 5)))
    val nCust = math.max(docs / 3, 20)
    val nSupp = 10
    val nPart = math.max(docs / 2, 20)
    val nOrd = docs * 3
    val segs = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    save("customer", StructType(Seq(StructField("c_custkey", LongType), StructField("c_name", StringType),
        StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
        StructField("c_mktsegment", StringType))),
      (1 to nCust).map(i => Row(i.toLong, f"Customer#$i%09d", rng.nextInt(25),
        math.round(rng.nextDouble() * 1000000) / 100.0, segs(rng.nextInt(5)))))
    save("supplier", StructType(Seq(StructField("s_suppkey", LongType), StructField("s_name", StringType),
        StructField("s_nationkey", IntegerType), StructField("s_acctbal", DoubleType))),
      (1 to nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", rng.nextInt(25),
        math.round(rng.nextDouble() * 1000000) / 100.0)))
    save("part", StructType(Seq(StructField("p_partkey", LongType), StructField("p_name", StringType),
        StructField("p_brand", StringType), StructField("p_type", StringType),
        StructField("p_size", IntegerType), StructField("p_retailprice", DoubleType))),
      (1 to nPart).map(i => Row(i.toLong, s"${Vocab(rng.nextInt(30))} ${Vocab(rng.nextInt(30))}",
        s"Brand#${1 + rng.nextInt(5)}${1 + rng.nextInt(5)}", s"TYPE${rng.nextInt(10)}",
        1 + rng.nextInt(50), 900.0 + i % 1000)))
    val prios = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val lineRows = scala.collection.mutable.ArrayBuffer.empty[Row]
    val orderRows = (1 to nOrd).map { o =>
      val lines = 1 + rng.nextInt(7)
      (1 to lines).foreach { l =>
        val q = (1 + rng.nextInt(50)).toDouble
        lineRows += Row(o.toLong, (1 + rng.nextInt(nPart)).toLong, (1 + rng.nextInt(nSupp)).toLong, l, q,
          math.round(q * (900 + rng.nextInt(1100)) * 100) / 100.0, rng.nextInt(11) / 100.0,
          rng.nextInt(9) / 100.0, Seq("A", "N", "R").apply(rng.nextInt(3)), Seq("O", "F").apply(rng.nextInt(2)),
          ts(rng.nextInt(2400) * 86400L))
      }
      Row(o.toLong, (1 + rng.nextInt(nCust)).toLong, Seq("O", "F", "P").apply(rng.nextInt(3)),
        math.round(rng.nextDouble() * 50000000) / 100.0, ts(rng.nextInt(2400) * 86400L), prios(rng.nextInt(5)))
    }
    save("orders", StructType(Seq(StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
        StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
        StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType))),
      orderRows)
    save("lineitem", StructType(Seq(StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
        StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
        StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
        StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
        StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
        StructField("l_shipdate", TimestampType))),
      lineRows.toSeq)
  }
}
