package graft

import graft.core.{Keys, KvIndexBuilder, KvModel, NumericBins, Task}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The compiled packed-code probe ([[KvModel.probeBins]]) must be
  * bitwise identical to the broadcast-join cascade and to
  * [[graft.core.LocalScorer]] on every path: exact hit, each prefix length, global
  * fallback, NULL bins — must be the plan actually chosen for a small
  * index, and must step aside for indexes it cannot pack.
  */
class KvProbeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  private def bins: Seq[Column] = Seq(
    NumericBins(Array(0.03, 0.07)).toColumn(col("l_discount")),
    NumericBins(Array(0.04)).toColumn(col("l_tax")),
    NumericBins(Array(10.0, 25.0, 40.0)).toColumn(col("l_quantity")))
  private def keyCol = Keys.keyColumn(bins)

  // training leaves holes on every level: quantity bin 3 (never seen:
  // the packing stops at field 2, the 2-field prefix answers),
  // discount bin 2 (stops at field 0: the global value answers) and the
  // prefix (discount 1, tax 1) (both bins seen elsewhere: the codes
  // pack, miss at levels 3 and 2, and the 1-field prefix answers)
  private lazy val model = {
    val li = Tables.lineitem(spark, sf)
    val train = li.filter(col("l_quantity") < 40.0 && col("l_discount") < 0.07 &&
        !(col("l_discount") >= 0.03 && col("l_tax") >= 0.04))
      .select(keyCol.as("key"),
        when(col("l_returnflag") === "R", 1.0).otherwise(0.0).as("pred"))
    KvIndexBuilder.buildFromKeyed(train, keyLen = 3, Task.Classification)
  }
  private def joinOnly(m: KvModel): KvModel = m.copy(maxCompiledEntries = 0L)

  private def planOf(df: DataFrame): String = {
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try df.queryExecution.executedPlan.toString
    finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }

  test("compiled probe equals the join cascade bitwise, fallbacks included") {
    // dirty probe: NULLs route to overflow bins -> unseen keys -> the
    // prefix/global cascade fires on a real fraction of rows
    val dirty = Tables.lineitem(spark, sf).select(
      when(col("l_orderkey") % 10 === 0, lit(null)).otherwise(col("l_quantity")).as("l_quantity"),
      when(col("l_orderkey") % 7 === 0, lit(null)).otherwise(col("l_discount")).as("l_discount"),
      col("l_tax"))
      .withColumn("key", keyCol)
    val local = model.toLocalScorer
    def keyed(df: DataFrame): Seq[(String, Double)] =
      df.select("key", "p").collect().toSeq.map(r => r.getString(0) -> r.getDouble(1))
    val compiled = keyed(model.probeBins(dirty, bins, "p"))
    val joined = keyed(model.joinProbe(dirty, col("key"), "p"))
    assert(compiled.nonEmpty && compiled.size == joined.size)
    // the key determines the value, so per-row agreement with the local
    // scorer on both forms IS compiled == join == local
    Seq("compiled" -> compiled, "joined" -> joined).foreach { case (form, rows) =>
      rows.foreach { case (k, v) =>
        assert(bits(v) == bits(local.scoreKey(k)), s"$form key $k: $v vs ${local.scoreKey(k)}")
      }
    }
    // every level of the cascade answered some row
    def level(k: String): Int =
      if (local.kv.contains(k)) 3
      else local.prefixes.collectFirst {
        case (l, m) if m.contains(graft.core.LocalScorer.prefix(k, l)) => l
      }.getOrElse(0)
    assert(compiled.map(r => level(r._1)).toSet == Set(3, 2, 1, 0))
  }

  test("a NULL key resolves to the global fallback on both paths") {
    import spark.implicits._
    // string key: the join cascade
    val one = Seq(1).toDF("i")
    val viaString = model.probe(one, lit(null).cast("string"), "p")
      .select("p").head().getDouble(0)
    assert(bits(viaString) == bits(model.globalValue))
    // bin form: concat_ws would skip the NULL and probe the live prefix
    // "0.0"; both forms must answer the global value instead. A local
    // relation evaluates the kernel interpreted, a range frame codegen'd.
    val nullBins = Seq(lit(0L), lit(null).cast("long"), lit(0L))
    for (m <- Seq(model, joinOnly(model)); input <- Seq(one, spark.range(1).toDF())) {
      val p = m.probeBins(input, nullBins, "p").select("p").head().getDouble(0)
      assert(bits(p) == bits(model.globalValue), s"cap ${m.maxCompiledEntries}: $p")
    }
  }

  test("small index compiles to a joinless, exchange-free projection") {
    val plan = planOf(model.probeBins(Tables.lineitem(spark, sf), bins, "p"))
    assert(plan.contains("kv_probe"), plan.take(500))
    assert(!plan.contains("concat_ws"), "compiled probe must not build a key string")
    assert(!plan.contains("Join"), "compiled probe must not join")
    assert(!plan.contains("Exchange"), "compiled probe must not exchange")
  }

  test("an index whose keys do not parse or whose radix product overflows serves by join") {
    import spark.implicits._
    def build(kv: (String, Double)*): KvModel =
      KvIndexBuilder.buildFromKeyed(kv.toDF("key", "pred"), keyLen = 2, Task.Regression)
    val big = 1L << 62
    // RDD-backed: over a local relation Catalyst evaluates the whole
    // projection at plan time, leaving no kernel in the plan to inspect
    val local = Seq((0L, 1L), (0L, 7L), (1L, 0L), (5L, 5L), (big, 0L), (0L, 3L))
      .toDF("b0", "b1")
    val probes = spark.createDataFrame(local.rdd, local.schema)
    def check(m: KvModel, compiles: Boolean): Unit = {
      val out = m.probeBins(probes, Seq(col("b0"), col("b1")), "p")
      assert(planOf(out).contains("kv_probe") == compiles, planOf(out).take(500))
      val scorer = m.toLocalScorer
      out.collect().foreach { r =>
        val key = s"${r.getLong(0)}.${r.getLong(1)}"
        assert(bits(r.getDouble(2)) == bits(scorer.scoreKey(key)), s"key $key")
      }
    }
    check(build("0.1" -> 1.0, "1.0" -> 2.0, "0.3" -> 4.0), compiles = true)
    check(build("a.b" -> 5.0, "0.1" -> 1.0, "1.0" -> 2.0), compiles = false)
    check(build("01.1" -> 5.0, "0.1" -> 1.0), compiles = false)
    // r_0 = 2^62 + 1, r_1 = 4: the product does not fit 63 bits
    check(build(s"$big.0" -> 5.0, "0.3" -> 4.0), compiles = false)
  }

  test("NaN and -0.0 index values serve bitwise on both forms") {
    import spark.implicits._
    val kv = Seq(("0.0", Double.NaN), ("0.1", -0.0), ("1.1", 2.5)).toDF("key", "value")
    val l1 = Seq(("0", -0.0), ("1", Double.NaN)).toDF("prefix", "value")
    val m = KvModel(Task.Regression, 2, kv, Seq(1 -> l1), globalValue = -0.0)
    val probes = Seq((0L, 0L), (0L, 1L), (1L, 1L), (1L, 0L), (0L, 5L), (7L, 0L))
      .toDF("b0", "b1")
    def served(mm: KvModel): Seq[Long] =
      mm.probeBins(probes, Seq(col("b0"), col("b1")), "p")
        .orderBy("b0", "b1").select("p").as[Double].collect().toSeq.map(bits)
    val expected = Seq((0L, 0L) -> Double.NaN, (0L, 1L) -> -0.0, (0L, 5L) -> -0.0,
      (1L, 0L) -> Double.NaN, (1L, 1L) -> 2.5, (7L, 0L) -> -0.0).map(x => bits(x._2))
    assert(served(m) == expected)
    assert(served(joinOnly(m)) == expected)
  }

  test("toLocalScorer's collect jobs run in the caller's job group") {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.put(js.jobId, Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("<none>"))
    }
    def jobIds: Set[Int] = { import scala.jdk.CollectionConverters._; groups.keySet.asScala.toSet }
    // the listener bus is async (waitUntilEmpty is private[spark]):
    // poll until the job count is stable, bounded at 10 s
    def settle(): Unit = {
      var (last, stable, waited) = (-1, 0, 0)
      while (stable < 3 && waited < 10000) {
        val cur = groups.size
        if (cur == last) stable += 1 else { stable = 0; last = cur }
        Thread.sleep(100); waited += 100
      }
    }
    def scoreUnder(group: String): Unit = {
      sc.setJobGroup(group, "toLocalScorer job-group spec", false)
      try model.toLocalScorer finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      scoreUnder("a")
      settle()
      val afterA = jobIds
      scoreUnder("b")
      settle()
      val second = (jobIds -- afterA).toSeq.map(groups.get)
      assert(second.size >= 1 + model.prefixes.length,
        s"expected one collect job per table, saw ${second.size}")
      assert(second.forall(_ == "b"), s"second call's jobs ran under groups $second")
    } finally sc.removeSparkListener(listener)
  }
}
