package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Canonical, Tables}

/** The benchmark's inputs.
  *
  * `base` is an sf0.1-shaped corpus generated from a fixed data seed
  * (never the workload seed), so every run of every checkout sees the
  * same rows: 100k sensor events over 30 days on 1500 stations, 5000
  * documents over a 30-word vocabulary with ~5% one-word near-duplicates
  * and a few exact copies, 2000 unit 64-d embeddings around 10 centers,
  * and the orders/lineitem key columns HITS reads (150k orders on 15k
  * customers, ~600k lineitems on 1000 suppliers). It is generated once
  * per checkout and checked against the digests in `digests.json`.
  *
  * The workload seed only picks the physical layout of what a run
  * reads (run.py writes it): the row order and how many files each
  * table is split into. Results must not depend on it.
  */
object Data {
  private final class SplitMix(seed: Long) {
    private var s = seed
    def next(): Long = {
      s += 0x9E3779B97F4A7C15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def below(n: Int): Int = java.lang.Long.remainderUnsigned(next(), n.toLong).toInt
    def unit(): Double = (next() >>> 11).toDouble / (1L << 53).toDouble
    def gaussian(): Double = {
      val u1 = math.max(unit(), 1e-12)
      math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * unit())
    }
  }

  private val Vocab = ("spark window merge table column vector stream value data " +
    "small join filter big group hash customer sort order slow line part fast " +
    "row the agg key query a scan batch").split(' ')
  private val Langs = Array("en", "en", "en", "zh", "es", "fr", "de")
  private val EventTypes = Array("signup", "purchase", "view", "click", "error")
  private val Epoch2024Us = 1704067200000000L
  private val ThirtyDaysUs = 30L * 86400L * 1000000L

  def timestamp(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  val BaseTables: Seq[String] = Seq("events", "documents", "embeddings", "orders", "lineitem")

  def events(spark: SparkSession, n: Int = 100000): DataFrame = {
    val r = new SplitMix(0xE7E27L)
    val gap = ThirtyDaysUs / n
    val rows = (0 until n).map { i =>
      val ts = Epoch2024Us + i * gap + java.lang.Long.remainderUnsigned(r.next(), gap)
      val value = math.rint(-math.log(math.max(r.unit(), 1e-9)) * 5000.0) / 100.0
      Row(i.toLong, timestamp(ts), r.below(1500).toLong, EventTypes(r.below(5)), value,
        s"""{"k": ${r.below(100)}}""")
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))))
  }

  def documents(spark: SparkSession, n: Int = 5000): DataFrame = {
    val r = new SplitMix(0xD0C5L)
    val texts = new Array[Array[String]](n)
    for (i <- 0 until n) {
      val kind = r.below(1000)
      texts(i) =
        if (i > 50 && kind < 50) { // near-duplicate: one word becomes "dup"
          val src = texts(i - 1 - r.below(50)).clone()
          src(r.below(src.length)) = "dup"
          src
        } else if (i > 50 && kind < 52) texts(i - 1 - r.below(50)).clone() // exact copy
        else Array.fill(10 + r.below(91))(Vocab(r.below(Vocab.length)))
    }
    val rows = (0 until n).map { i =>
      val text = texts(i).mkString(" ")
      Row(i.toLong, text, Langs(r.below(Langs.length)), s"src${i % 20}", text.length.toLong)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))))
  }

  def embeddings(spark: SparkSession, n: Int = 2000, dim: Int = 64): DataFrame = {
    val r = new SplitMix(0xE3BEDL)
    val centers = Array.fill(10, dim)(r.gaussian())
    val rows = (0 until n).map { i =>
      val label = r.below(10)
      val v = Array.tabulate(dim)(d => centers(label)(d) + 0.8 * r.gaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType))))
  }

  def orders(spark: SparkSession, n: Long = 150000L): DataFrame =
    spark.range(1, n + 1, 1, 4).select(col("id").as("o_orderkey"),
      (pmod(xxhash64(lit(11), col("id")), lit(15000L)) + 1).as("o_custkey"))

  def lineitem(spark: SparkSession, orders: Long = 150000L): DataFrame =
    spark.range(1, orders + 1, 1, 4)
      .select(col("id").as("l_orderkey"),
        explode(sequence(lit(1), (pmod(xxhash64(lit(12), col("id")), lit(7L)) + 1)
          .cast("int"))).as("l_linenumber"))
      .select(col("l_orderkey"), col("l_linenumber"),
        (pmod(xxhash64(lit(13), col("l_orderkey"), col("l_linenumber")), lit(1000L)) + 1)
          .as("l_suppkey"))

  private def generate(spark: SparkSession, name: String): DataFrame = name match {
    case "events" => events(spark)
    case "documents" => documents(spark)
    case "embeddings" => embeddings(spark)
    case "orders" => orders(spark)
    case "lineitem" => lineitem(spark)
  }

  /** Row count plus an order-independent hash over the canonicalized
    * rows: the digest every input and every output is checked by. */
  def digest(df: DataFrame): (Long, String) = readDigest(digestFrame(df))

  def digestFrame(df: DataFrame): DataFrame =
    withRowHash(df, df.columns.toSeq).select(col("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))

  /** `df` plus `h`, the digest's hash of each row over `cols`. */
  def withRowHash(df: DataFrame, cols: Seq[String]): DataFrame = {
    val c = Canonical.canonicalize(df)
    c.withColumn("h", xxhash64(cols.map(n => c.col(s"`$n`")): _*))
  }

  def readDigest(frame: DataFrame): (Long, String) = {
    val r = frame.head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  private def exists(dir: String, name: String): Boolean =
    new File(s"$dir/$name.parquet/_SUCCESS").exists()

  /** Generates (once) the base corpus, returning the digest of every
    * table written in this call so the caller can check it against the
    * recorded one. */
  def ensureBase(spark: SparkSession, root: String,
      tables: Seq[String]): Seq[(String, (Long, String))] = {
    val base = s"$root/base"
    tables.filterNot(exists(base, _)).map { name =>
      generate(spark, name).write.mode("overwrite").parquet(s"$base/$name.parquet")
      s"base/$name" -> digest(Tables.load(spark, base, name))
    }
  }
}
