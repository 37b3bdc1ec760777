package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Every value is a pure function of
  * (seed, table salt, row id) through xxhash64, so the same seed gives
  * bitwise-identical tables whatever the partitioning, and tables drawn
  * with different salts never share a row.
  *
  * Rows carry nine features x0..x8, uniform on [0, 1), and a binary
  * label y from a fixed noisy linear rule in which x0 and x1 weigh most,
  * so the fitted key leads with them. m is the rule's class without the
  * noise. Training tables hold out the
  * corner x0 > 0.5 and x1 > 0.5: a quarter of uniform probe rows land
  * there and resolve through prefix or global fallback.
  */
object Inputs {
  val Features: Seq[String] = (0 until 9).map(i => s"x$i")
  private val Weights = Seq(3.0, -2.5, 1.5, -1.0, 0.8, 0.5, -0.4, 0.3, 0.2)

  /** Uniform [0, 1) from the top 53 bits of xxhash64(seed, salt, id). */
  def uniform(seed: Long, salt: Int, id: Column): Column =
    shiftrightunsigned(xxhash64(lit(seed), lit(salt), id), 11).cast("double") /
      lit(9007199254740992.0)

  private def score: Column =
    Features.zip(Weights).map { case (f, w) => (col(f) - 0.5) * w }.reduce(_ + _)

  /** The class of the noiseless rule behind y: the "model" the serve
    * workloads' index memorizes. */
  def ruleClass: Column = when(score > 0, 1.0).otherwise(0.0)

  /** `n` rows (id, x0..x8, y, m): m is [[ruleClass]]. `salt` names the table; `holdOut` drops
    * the held-out corner (training tables). */
  def table(spark: SparkSession, seed: Long, salt: Int, n: Long,
      holdOut: Boolean, partitions: Int): DataFrame = {
    val xs = Features.indices.map(j => uniform(seed, salt * 16 + j, col("id")).as(Features(j)))
    val df = spark.range(0L, n, 1L, partitions).select(col("id") +: xs: _*)
    val z = score + (uniform(seed, salt * 16 + 15, col("id")) - 0.5)
    val labelled = df.withColumn("y", when(z > 0, 1.0).otherwise(0.0))
      .withColumn("m", ruleClass)
    if (holdOut) labelled.filter(!(col("x0") > 0.5 && col("x1") > 0.5)) else labelled
  }

  /** (rows, order-independent checksum over every column): the low 32
    * bits of each row hash summed (no overflow below 2^31 rows), mixed
    * with the xor of the full hashes. */
  def checksum(df: DataFrame): (Long, Long) = {
    val r = df.select(xxhash64(df.columns.map(col): _*).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").bitwiseAND(0xFFFFFFFFL)), lit(0L)),
        coalesce(bit_xor(col("h")), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1) * 1000003L ^ r.getLong(2))
  }

  /** Indices into a pool of `pool` tuples with Zipf(s) popularity: rank
    * r is drawn with probability proportional to 1 / r^s, and ranks are
    * scattered over the pool by a seeded permutation. */
  def zipfStream(seed: Long, pool: Int, s: Double, n: Int): Array[Int] = {
    val rnd = new java.util.SplittableRandom(seed)
    val cdf = new Array[Double](pool)
    var acc = 0.0
    var r = 0
    while (r < pool) { acc += 1.0 / math.pow(r + 1, s); cdf(r) = acc; r += 1 }
    val perm = Array.range(0, pool)
    var i = pool - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = perm(i); perm(i) = perm(j); perm(j) = t
      i -= 1
    }
    Array.fill(n) {
      val k = java.util.Arrays.binarySearch(cdf, rnd.nextDouble() * acc)
      perm(math.min(pool - 1, if (k >= 0) k else -k - 1))
    }
  }
}
