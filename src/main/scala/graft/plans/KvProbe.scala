package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._

/** Compiled KV-probe cascade on PACKED BIN CODES: the collected
  * (key-space-bounded) kv + prefix maps embed in the plan as primitive
  * arrays, and the serve path becomes ONE whole-stage-codegen projection
  * that packs the row's LongType bin indices into a `long` and runs the
  * lookup cascade on it — no key string is ever built (translate and
  * probe fuse into one operator). It replaces keyLen broadcast hash
  * joins + coalesce ([[graft.core.KvModel.joinProbe]], which stays as
  * the fallback for indexes that do not compile).
  *
  * Packing: field `i` has radix `r_i = 1 + max(field i)` over the index
  * keys, and a key of `l` fields packs left to right as
  * `((f_0 * r_1 + f_1) * r_2 + f_2) …` — a bijection between canonical
  * key tuples and codes, so each level's table is keyed by code. The
  * first field outside `[0, r_i)` stops the packing: no index key has
  * that field value, so only the prefix before it can hit — exactly
  * where the string cascade lands with a value it never saw. Going one
  * level shorter divides the code by that level's last radix.
  *
  * Compile rule ([[KvCodeRef.compile]]): every kv and prefix key is a
  * canonical non-negative decimal tuple of the right length (every
  * bin-built index is) and `∏ r_i < 2^63`; any other index serves
  * through the join cascade. Same cascade order — exact hit, then
  * longest to shortest field-wise prefix, then the global aggregate —
  * over the same collected doubles, so the two forms are bitwise
  * identical (KvProbeSpec pins it, NaN and -0.0 values included: a
  * lookup returns a slot, never a sentinel value).
  *
  * Scale shape: the reference object rides the task binary exactly like
  * [[KnnRef]]/[[TreeEnsembleRef]] — one copy per task, zero join
  * overhead, and the probe side needs no exchange at any input size.
  * (The reference serves this cascade as dynamic SQL per row,
  * src/inference_trie.py:60-98; the join form mirrors its batch SQL,
  * this kernel is the point-lookup form applied to the batch path.)
  */
final class KvCodeRef private (
    val radices: Array[Long],               // r_i per key field
    levelKeys: Array[Array[Long]],          // level l (fields) -> open-addressing codes, -1 = empty
    levelVals: Array[Array[Double]],        // level l -> value per slot
    val globalValue: Double) extends Serializable {

  /** Cascade from the code of the first `depth` fields: the level-`depth`
    * table, then each shorter level, then the global value. */
  def score(code0: Long, depth: Int): Double = {
    var code = code0
    var l = depth
    while (l > 0) {
      val keys = levelKeys(l)
      if (keys != null) {
        val mask = keys.length - 1
        var i = KvCodeRef.slot(code, mask)
        var k = keys(i)
        while (k != -1L) {
          if (k == code) return levelVals(l)(i)
          i = (i + 1) & mask
          k = keys(i)
        }
      }
      l -= 1
      if (l > 0) code /= radices(l)
    }
    globalValue
  }
}

object KvCodeRef {
  private[plans] def slot(code: Long, mask: Int): Int = {
    val h = code * 0x9E3779B97F4A7C15L
    (h ^ (h >>> 32)).toInt & mask
  }

  /** The canonical non-negative decimal fields of `key`, when it has
    * exactly `n` of them ("7", never "07", "+7", "-0" or ""). */
  private def fields(key: String, n: Int): Option[Array[Long]] = {
    val parts = key.split("\\.", -1)
    if (parts.length != n) None
    else {
      val out = new Array[Long](n)
      var i = 0
      while (i < n) {
        val p = parts(i)
        val ok = p.nonEmpty && p.forall(c => c >= '0' && c <= '9') &&
          (p == "0" || p.charAt(0) != '0') && p.toLongOption.isDefined
        if (!ok) return None
        out(i) = p.toLong
        i += 1
      }
      Some(out)
    }
  }

  private def table(codes: Array[Long], vals: Array[Double]): (Array[Long], Array[Double]) = {
    var cap = 2
    while (cap < 2 * codes.length) cap <<= 1
    val keys = Array.fill(cap)(-1L)
    val out = new Array[Double](cap)
    var j = 0
    while (j < codes.length) {
      var i = slot(codes(j), cap - 1)
      while (keys(i) != -1L) i = (i + 1) & (cap - 1)
      keys(i) = codes(j)
      out(i) = vals(j)
      j += 1
    }
    (keys, out)
  }

  /** The packed-code form of `scorer` for a `keyLen`-field key, or None
    * when it does not compile: a key that is not a canonical decimal
    * tuple of its level's length, prefix levels that are not distinct,
    * descending and within `[1, keyLen)`, or `∏ r_i >= 2^63`. */
  def compile(scorer: graft.core.LocalScorer, keyLen: Int): Option[KvCodeRef] = {
    val levels = (keyLen -> scorer.kv) +: scorer.prefixes
    val ls = levels.map(_._1)
    val ordered = scorer.prefixes.forall { case (l, _) => l >= 1 && l < keyLen } &&
      ls.zip(ls.drop(1)).forall { case (a, b) => a > b }
    if (keyLen < 1 || !ordered) return None
    val parsed = levels.map { case (l, m) =>
      val entries = m.toArray
      val fs = entries.map { case (k, _) => fields(k, l) }
      if (fs.exists(_.isEmpty)) return None
      (l, fs.map(_.get), entries.map(_._2))
    }
    val radices = Array.tabulate(keyLen) { i =>
      BigInt(1) + parsed.iterator.flatMap(_._2.iterator.filter(_.length > i).map(_(i)))
        .foldLeft(BigInt(-1))((a, b) => a.max(BigInt(b)))
    }
    if (radices.product > BigInt(Long.MaxValue)) return None
    val rs = radices.map(_.toLong)
    val levelKeys = new Array[Array[Long]](keyLen + 1)
    val levelVals = new Array[Array[Double]](keyLen + 1)
    parsed.foreach { case (l, fs, vs) =>
      val codes = fs.map(f => (0 until l).foldLeft(0L)((c, i) => c * rs(i) + f(i)))
      val (k, v) = table(codes, vs)
      levelKeys(l) = k
      levelVals(l) = v
    }
    Some(new KvCodeRef(rs, levelKeys, levelVals, scorer.globalValue))
  }
}

/** LongType bin indices (key order) -> cascaded index value. Never
  * null: the global aggregate answers every miss, and a NULL bin
  * resolves to it too (the join form's NULL key does the same). */
case class KvProbeBins(children: Seq[Expression], ref: KvCodeRef) extends Expression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.length != ref.radices.length) TypeCheckResult.TypeCheckFailure(
      s"kv_probe expects ${ref.radices.length} bin columns, got ${children.length}")
    else children.find(_.dataType != LongType) match {
      case Some(c) => TypeCheckResult.TypeCheckFailure(
        s"kv_probe requires BIGINT bins, got ${c.dataType.sql}")
      case None => TypeCheckResult.TypeCheckSuccess
    }

  override def eval(input: InternalRow): Any = {
    var code = 0L
    var depth = 0
    var open = true
    var i = 0
    while (i < children.length) {
      val v = children(i).eval(input)
      if (v == null) return ref.globalValue
      val b = v.asInstanceOf[Long]
      if (open && b >= 0L && b < ref.radices(i)) {
        code = code * ref.radices(i) + b
        depth += 1
      } else open = false
      i += 1
    }
    ref.score(code, depth)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val refName = ctx.addReferenceObj("kvCodeRef", ref, classOf[KvCodeRef].getName)
    val gens = children.map(_.genCode(ctx))
    val packed = ctx.freshName("kvCode")
    val depth = ctx.freshName("kvDepth")
    val anyNull = gens.map(_.isNull.toString).mkString(" || ")
    // nested ifs: the first field outside [0, r_i) stops the packing
    val pack = gens.zip(ref.radices).zipWithIndex.foldRight("") {
      case (((g, r), i), inner) =>
        val acc = if (i == 0) s"${g.value}" else s"$packed * ${r}L + ${g.value}"
        s"""if (${g.value} >= 0L && ${g.value} < ${r}L) {
           |  $packed = $acc;
           |  $depth = ${i + 1};
           |  $inner
           |}""".stripMargin
    }
    ev.copy(
      code = code"""
        ${gens.map(_.code).mkString("\n")}
        double ${ev.value} = $refName.globalValue();
        if (!($anyNull)) {
          long $packed = 0L;
          int $depth = 0;
          $pack
          ${ev.value} = $refName.score($packed, $depth);
        }
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): KvProbeBins =
    copy(children = cs)
  override def prettyName: String = "kv_probe"
}

object KvProbe {
  def column(bins: Seq[Column], ref: KvCodeRef): Column =
    GraftColumnBridge.column(KvProbeBins(bins.map(GraftColumnBridge.expression), ref))
}
