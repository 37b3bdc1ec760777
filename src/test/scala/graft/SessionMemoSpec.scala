package graft

import graft.core.SessionMemo
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Eviction discipline of the (session, corpus, name)-keyed memo:
  * same-corpus hits are served from the memo, a corpus switch evicts
  * the session's OTHER-corpus entries under every name and releases
  * cached Datasets, and other sessions' entries are never touched.
  * Each test works in fresh sessions so no other suite's entries are
  * swept.
  */
class SessionMemoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("same-corpus re-invocation hits the memo; corpus switch evicts + releases") {
    val s = spark.newSession()
    var builds = 0
    def get(d: String) = SessionMemo.get(s, d, "spec.value") {
      builds += 1; s"value-$d"
    }

    assert(get("corpusA") == "value-corpusA" && builds == 1)
    assert(get("corpusA") == "value-corpusA" && builds == 1, "memo hit, no rebuild")
    // switch: B is built, A is evicted — asking for A again rebuilds it
    assert(get("corpusB") == "value-corpusB" && builds == 2)
    assert(get("corpusA") == "value-corpusA" && builds == 3,
      "the switch to corpusB must have evicted corpusA's entry")
  }

  test("entries under two names are both swept on a switch") {
    val s = spark.newSession()
    val builds = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    def get(d: String, name: String) = SessionMemo.get(s, d, name) {
      builds(name) += 1; s"$name-$d"
    }

    get("corpusA", "spec.x"); get("corpusA", "spec.y")
    get("corpusA", "spec.y") // same corpus: hit
    assert(builds == Map("spec.x" -> 1, "spec.y" -> 1))
    get("corpusB", "spec.x") // switch through ONE name
    get("corpusA", "spec.y") // ...must have swept the other name too
    assert(builds("spec.y") == 2, "stale-corpus entry under a second name survived the switch")
  }

  test("another session's entries are never evicted") {
    val mine = spark.newSession()
    val other = spark.newSession()
    var otherBuilds = 0
    SessionMemo.get(mine, "corpusA", "spec.v")("mine")
    SessionMemo.get(other, "corpusB", "spec.v") { otherBuilds += 1; "theirs" }
    // my corpus switch must leave the other session's entry alone
    SessionMemo.get(mine, "corpusC", "spec.v")("mine2")
    assert(SessionMemo.get(other, "corpusB", "spec.v") { otherBuilds += 1; "rebuilt" } == "theirs")
    assert(otherBuilds == 1)
    var mineRebuilt = false
    SessionMemo.get(mine, "corpusA", "spec.v") { mineRebuilt = true; "mine" }
    assert(mineRebuilt, "my own stale-corpus entry must have been evicted")
  }

  test("an evicted cached Dataset, bare or inside a tuple, is unpersisted") {
    val s = spark.newSession()
    val bare = s.range(0, 17).toDF("memo_spec_bare").cache()
    val inTuple = s.range(0, 19).toDF("memo_spec_tuple").cache()
    bare.count(); inTuple.count()
    SessionMemo.get(s, "corpusA", "spec.bare")(bare)
    SessionMemo.get(s, "corpusA", "spec.tuple")((inTuple, 42L))
    assert(bare.storageLevel != StorageLevel.NONE && inTuple.storageLevel != StorageLevel.NONE)
    SessionMemo.get(s, "corpusB", "spec.bare")("switch")
    assert(bare.storageLevel == StorageLevel.NONE, "bare Dataset not unpersisted on eviction")
    assert(inTuple.storageLevel == StorageLevel.NONE, "tuple-held Dataset not unpersisted on eviction")
  }
}
