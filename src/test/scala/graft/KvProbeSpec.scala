package graft

import graft.core.{Keys, KvIndexBuilder, NumericBins, Task}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The compiled single-projection probe (KvScorerRef kernel) must be
  * bitwise identical to the broadcast-join cascade on every path:
  * exact hit, each prefix length, global fallback, NULL-translated
  * keys — and must be the plan actually chosen for a small index.
  */
class KvProbeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  private def keyCol = Keys.keyColumn(Seq(
    NumericBins(Array(0.03, 0.07)).toColumn(col("l_discount")),
    NumericBins(Array(0.04)).toColumn(col("l_tax")),
    NumericBins(Array(10.0, 25.0, 40.0)).toColumn(col("l_quantity"))))

  private lazy val model = {
    val li = Tables.lineitem(spark, sf)
    val train = li.filter(col("l_quantity") < 40.0 && col("l_discount") < 0.07)
      .select(keyCol.as("key"),
        when(col("l_returnflag") === "R", 1.0).otherwise(0.0).as("pred"))
    KvIndexBuilder.buildFromKeyed(train, keyLen = 3, Task.Classification)
  }

  test("compiled probe equals the join cascade bitwise, fallbacks included") {
    // dirty probe: NULLs route to overflow bins -> unseen keys -> the
    // prefix/global cascade fires on a real fraction of rows
    val dirty = Tables.lineitem(spark, sf).select(
      col("l_orderkey"), col("l_linenumber"),
      when(col("l_orderkey") % 10 === 0, lit(null)).otherwise(col("l_quantity")).as("l_quantity"),
      when(col("l_orderkey") % 7 === 0, lit(null)).otherwise(col("l_discount")).as("l_discount"),
      col("l_tax"))
    def collectProbe(m: graft.core.KvModel) =
      m.probe(dirty, keyCol, "p")
        .select("l_orderkey", "l_linenumber", "p").collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val compiled = collectProbe(model)
    val joined = collectProbe(model.copy(maxCompiledEntries = 0L))
    assert(compiled.nonEmpty && compiled.size == joined.size)
    compiled.foreach { case (k, v) =>
      assert(bits(v) == bits(joined(k)), s"row $k: compiled $v vs joined ${joined(k)}")
    }
  }

  test("a NULL key resolves to the global fallback on both paths") {
    import spark.implicits._
    val one = Seq(1).toDF("i")
    val compiled = model.probe(one, lit(null).cast("string"), "p")
      .select("p").head().getDouble(0)
    val joined = model.copy(maxCompiledEntries = 0L)
      .probe(one, lit(null).cast("string"), "p")
      .select("p").head().getDouble(0)
    assert(bits(compiled) == bits(model.globalValue))
    assert(bits(joined) == bits(model.globalValue))
  }

  test("small index compiles to a joinless, exchange-free projection") {
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = model.probe(Tables.lineitem(spark, sf), keyCol, "p")
        .queryExecution.executedPlan.toString
      assert(plan.contains("kv_probe"), plan.take(500))
      assert(!plan.contains("Join"), "compiled probe must not join")
      assert(!plan.contains("Exchange"), "compiled probe must not exchange")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
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
