package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.{broadcast, call_function, col, udaf}
import org.apache.spark.sql.types._

/** Bloom-filter SEMI-JOIN REDUCTION — the runtime-filter pattern that at
  * 100 TB turns a full fact-table shuffle into a shuffle of only the
  * fraction that can possibly join: build a compact bitset over the
  * (already filtered) build side's join keys, broadcast it to every task,
  * and drop fact rows at the SCAN side before they ever reach the join's
  * Exchange. The exact join downstream clears the false positives, so the
  * query's RESULT is bit-identical to the plain join — the filter buys
  * shuffle volume, never correctness. This is what Spark's own AQE
  * `InjectRuntimeFilter` and Trino's dynamic filtering do internally;
  * here it is a first-class, oracle-checkable operator.
  *
  * Two halves, which MUST agree on the probe math (both use
  * [[Bloom.mightContain]]'s double-hash scheme with [[Bloom.Probes]]
  * probes — a k mismatch between build and probe produces silent FALSE
  * NEGATIVES, i.e. wrong query results):
  *  - [[Bloom.Agg]]: a mergeable typed [[Aggregator]] (the KmvSketch
  *    tier) building the bitset map-side; the shuffle carries one
  *    `m/64`-long array per partial, OR-merged associatively.
  *  - [[BloomMightContainExpr]]: a codegen'd probe that runs once per
  *    fact row — the hot path — inside whole-stage codegen.
  *
  * Sizing ([[Bloom.sizeWords]]): m = nextPow2(10 bits/key · n_build),
  * k = 7 ≈ (m/n)·ln 2 → ~0.8% FPP. n_build comes from a count of the
  * filtered build side — the stat a real engine reads off its exchange
  * for free; paying one pruned dimension scan for it is the classic
  * trade (the fact side is 10–1000× larger). The growth law is linear:
  * 10 bits per build key, so a 3M-key build side at sf10 is a 4 MB
  * broadcast — still nothing next to the shuffle it deletes.
  */
object Bloom {

  /** Probes per key. 7 ≈ optimal k for 10 bits/key (k = (m/n)·ln 2);
    * shared constant between build and probe — see the false-negative
    * warning in the object doc. */
  val Probes = 7

  /** Bitset words for `nKeys` at ~10 bits/key, power-of-two bits,
    * floor 2^13 bits (1 KB), cap 2^30 bits (128 MB — past any sane
    * broadcast; reaching it means the "small" side isn't). */
  def sizeWords(nKeys: Long): Int = {
    val want = math.max(1L << 13, nKeys * 10L)
    var bits = 1L << 13
    while (bits < want && bits < (1L << 30)) bits <<= 1
    (bits >> 6).toInt
  }

  /** Double hashing (Kirsch–Mitzenmacher): probe i tests bit
    * h1 + i·h2 mod m. h2 is forced odd so the probe sequence cycles the
    * whole power-of-two space. */
  @inline private def hash1(key: Long): Long =
    XxHash64Function.hash(key, LongType, 42L)
  @inline private def hash2(key: Long): Long =
    XxHash64Function.hash(key, LongType, 77L) | 1L

  /** Set the [[Probes]] bits of `key` in `bits` (mutates). */
  def setBits(bits: Array[Long], key: Long): Unit = {
    val m = bits.length.toLong << 6
    val a = hash1(key); val b = hash2(key)
    var i = 0
    while (i < Probes) {
      val pos = java.lang.Long.remainderUnsigned(a + i * b, m)
      bits((pos >> 6).toInt) |= (1L << (pos & 63L))
      i += 1
    }
  }

  /** Probe: true iff every bit of `key` is set. Static forwarder —
    * generated code calls `graft.functions.Bloom.mightContain(...)`
    * directly, keeping the per-fact-row path allocation-free. */
  def mightContain(bits: ArrayData, key: Long): Boolean = {
    val m = bits.numElements().toLong << 6
    if (m == 0L) return false // degenerate hand-built bitset, not from Agg
    val a = hash1(key); val b = hash2(key)
    var i = 0
    while (i < Probes) {
      val pos = java.lang.Long.remainderUnsigned(a + i * b, m)
      if ((bits.getLong((pos >> 6).toInt) & (1L << (pos & 63L))) == 0L)
        return false
      i += 1
    }
    true
  }

  /** Column-API probe; resolves through the function registry
    * ([[graft.plans.GraftExtensions]]). `bits` = the `bits` field of
    * [[Agg]]'s output struct (`col("bf.bits")`). */
  def mightContainCol(bits: Column, key: Column): Column =
    call_function("bloom_might_contain", bits, key)

  /** The broadcast envelope, in build-side rows: at or under it a gate
    * broadcasts the exact build side (8M rows of a packed long or a
    * (doc, range) struct is ~130 MB); past it the build is Bloom-filtered
    * or shuffled instead. */
  val BroadcastRows: Long = 8L * 1000 * 1000

  /** The build: a one-row frame of `bits` over `key` of `rows`, sized
    * for `nKeys`. `coalesce(8)` bounds the partials: each holds a full
    * m-bit buffer, and in local mode all partials share one heap (32 ×
    * 134 MB at 10⁸ keys killed the default heap). It narrows without a
    * shuffle, and the build scan is a small fraction of any query that
    * probes it. */
  def build(rows: DataFrame, key: Column, nKeys: Long): DataFrame = {
    val agg = udaf(new Agg(sizeWords(nKeys)))
    rows.coalesce(8).agg(agg(key).as("bf")).select(col("bf.bits").as("bits"))
  }

  /** The probe: `rows` whose `key` may be in the one-row `bloom` frame
    * (a [[build]], `bits` column). Callers project the `bits` column away.
    * No false negatives, so an exact join downstream gives the unfiltered
    * join's answer. */
  def probe(rows: DataFrame, bloom: DataFrame, key: Column): DataFrame =
    rows.crossJoin(broadcast(bloom)) // ONE row by construction
      .filter(mightContainCol(col("bits"), key))

  /** Aggregation buffer/output as case classes so Encoders.product keeps
    * everything in Catalyst's serialized format (no kryo blobs). The
    * buffer object lives across consecutive `reduce` calls (udaf wraps
    * this in a TypedImperativeAggregate), so in-place bit-OR mutation is
    * both safe and the point — zero allocation per input row. */
  case class Buf(bits: Array[Long])
  case class Out(bits: Seq[Long])

  class Agg(mWords: Int) extends Aggregator[Long, Buf, Out] {
    require(mWords >= 1 && (mWords & (mWords - 1)) == 0,
      s"mWords must be a positive power of two, got $mWords")

    override def zero: Buf = Buf(new Array[Long](mWords))

    override def reduce(b: Buf, key: Long): Buf = {
      setBits(b.bits, key); b
    }

    override def merge(a: Buf, b: Buf): Buf = {
      val x = a.bits; val y = b.bits
      require(x.length == y.length,
        s"bloom merge width mismatch: ${x.length} vs ${y.length} words")
      var i = 0
      while (i < x.length) { x(i) |= y(i); i += 1 }
      a
    }

    override def finish(b: Buf): Out = Out(b.bits.toIndexedSeq)
    override def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
    override def outputEncoder: Encoder[Out] = Encoders.product[Out]
  }
}

/** `bloom_might_contain(bits, key)` — see [[Bloom]]. Null bits or null
  * key → null (BinaryExpression default), which a Filter treats as drop:
  * a null fact key can never equi-join anyway, so the pre-filter and the
  * exact join agree on the whole domain. */
case class BloomMightContainExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "bloom_might_contain"
  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, false), LongType) => TypeCheckResult.TypeCheckSuccess
      case (ArrayType(LongType, true), LongType) => TypeCheckResult.TypeCheckFailure(
        "bloom_might_contain needs array<bigint> with non-null elements: " +
          "mightContain reads words with getLong and a NULL element would be " +
          "undefined garbage, not a probe miss (the Agg path's encoder always " +
          "emits containsNull=false)")
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"bloom_might_contain needs (array<bigint>, bigint), got ${l.sql}, ${r.sql}")
    }

  override def nullSafeEval(bits: Any, key: Any): Any =
    Bloom.mightContain(bits.asInstanceOf[ArrayData],
      key.asInstanceOf[Long])

  /** Real codegen — this runs once per FACT row (the whole point is that
    * the fact side is huge), so it must stay inside whole-stage codegen
    * with no boxing. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, k) =>
      s"${ev.value} = graft.functions.Bloom.mightContain($b, $k);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
