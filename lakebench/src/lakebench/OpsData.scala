package lakebench

import java.sql.Date

import org.apache.spark.sql.SparkSession

/** Input tables for the operator sweep, shaped like the engine's sf0.01
  * test tables (the `Lake` accessors the operator queries read): 500
  * documents with planted near-duplicates, 25 nations, 1,500 customers and
  * 15,000 orders. Fixed content (its own constant seed), so each query's
  * result digest is a committed constant at this scale. */
object OpsData {
  val Scale = "docs500-cust1500-orders15000"
  private val Vocab = Seq("the", "a", "fast", "slow", "big", "small", "key", "order", "sort",
    "table", "scan", "merge", "part", "window", "hash", "join", "batch", "stream", "spark",
    "dup", "group", "query", "row", "data", "filter", "customer", "line", "value", "agg",
    "column", "vector")

  def write(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val r = new scala.util.Random(20240601L)
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until 500).foreach { i =>
      val t =
        if (i % 20 == 19) { // near-duplicate of the previous document: one word replaced
          val ws = texts(i - 1).split(' ')
          ws(r.nextInt(ws.length)) = Vocab(r.nextInt(Vocab.size))
          ws.mkString(" ")
        } else if (i % 50 == 49) texts(i - 7) // exact duplicate
        else Seq.fill(10 + r.nextInt(90))(Vocab(r.nextInt(Vocab.size))).mkString(" ")
      texts += t
    }
    val langs = Seq("en", "es", "de", "fr", "zh")
    texts.toSeq.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, langs(i % langs.size), s"src${i % 7}", t.length)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    (0 until 25).map(n => (n, s"NATION$n", n % 5)).toDF("n_nationkey", "n_name", "n_regionkey")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/nation.parquet")
    (1 to 1500).map(c => (c.toLong, f"Customer#$c%09d", r.nextInt(25), r.nextInt(1000000) / 100.0,
      Seq("BUILDING", "AUTOMOBILE", "MACHINERY")(c % 3)))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val day0 = Date.valueOf("1992-01-01").toLocalDate
    (1 to 15000).map { o =>
      (o.toLong * 4 - r.nextInt(4), (1 + r.nextInt(1500)).toLong, Seq("O", "F", "P")(o % 3),
        r.nextInt(50000000) / 100.0, Date.valueOf(day0.plusDays(r.nextInt(2400).toLong)),
        s"${1 + o % 5}-PRIORITY")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
      "o_orderpriority")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
  }
}
