package graft.functions

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, LeafExpression}
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedFunction}
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType}
import org.apache.spark.sql.{Column, Encoder, functions}

/** Mergeable Bloom filter over 64-bit keys — the membership sketch that
  * turns an anti-join against a huge archive into a cheap per-row bit test
  * plus a small residual join.
  *
  * Layout: `numBits` bits (power of two) in a byte array; each key sets
  * `numHashes` positions derived by double hashing (Kirsch–Mitzenmacher:
  * idx_i = h1 + i·h2 mod m, two independent finalizer mixes of the key —
  * same guarantees as k independent hashes). Merging two filters over the
  * same (numBits, numHashes) config is bitwise OR, which is EXACT:
  * bloom(A ∪ B) = bloom(A) | bloom(B) — so per-ingest-batch filters
  * reduce to one corpus filter with no rebuild, the same mergeable-sketch
  * contract as [[graft.ext.SketchAggs.MinHashUnion]].
  *
  * No false negatives, tunable false positives (~(1−e^{−kn/m})^k): a
  * membership PRUNE, not a membership test — "false" is definitive,
  * "true" must be verified exactly. Downstream operators rely on exactly
  * that split ([[graft.ext.Dedup.dedupIncrementalBloom]]), which is why
  * bloom parameters can never change results, only the candidate volume.
  */
object Bloom {

  /** splitmix64 finalizer — full-avalanche 64-bit mix. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Set the `numHashes` positions for `x` in `bits` (m = bits.length*8,
    * power of two). */
  def add(bits: Array[Byte], x: Long, numHashes: Int): Unit = {
    val mask = bits.length.toLong * 8 - 1
    val h1 = mix(x)
    val h2 = mix(x ^ 0x9e3779b97f4a7c15L) | 1L
    var i = 0
    while (i < numHashes) {
      val idx = ((h1 + i.toLong * h2) & mask).toInt
      bits(idx >>> 3) = (bits(idx >>> 3) | (1 << (idx & 7))).toByte
      i += 1
    }
  }

  /** True iff every position for `x` is set — maybe-present (verify
    * exactly); false — DEFINITELY absent. Same position derivation as
    * [[add]]. */
  def mightContain(bits: Array[Byte], x: Long, numHashes: Int): Boolean = {
    val mask = bits.length.toLong * 8 - 1
    val h1 = mix(x)
    val h2 = mix(x ^ 0x9e3779b97f4a7c15L) | 1L
    var i = 0
    while (i < numHashes) {
      val idx = ((h1 + i.toLong * h2) & mask).toInt
      if ((bits(idx >>> 3) & (1 << (idx & 7))) == 0) return false
      i += 1
    }
    true
  }

  /** Build-side aggregator: fold 64-bit keys into one `numBits`-bit filter.
    * Fixed-size buffer regardless of group size; merge = bitwise OR
    * (exact, order-free). Nulls are skipped — a null key is "no element",
    * matching what an anti-join on a null key would do (never matches). */
  class BloomFilterAgg(numBits: Int, numHashes: Int)
      extends Aggregator[java.lang.Long, Array[Byte], Array[Byte]] {
    require(numBits >= 8 && (numBits & (numBits - 1)) == 0,
      s"bloom_agg: numBits must be a power of two >= 8, got $numBits")
    require(numHashes >= 1, s"bloom_agg: numHashes must be >= 1, got $numHashes")

    override def zero: Array[Byte] = new Array[Byte](numBits / 8)

    override def reduce(buf: Array[Byte], x: java.lang.Long): Array[Byte] = {
      if (x != null) add(buf, x.longValue(), numHashes)
      buf
    }

    override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
      var i = 0
      while (i < a.length) { a(i) = (a(i) | b(i)).toByte; i += 1 }
      a
    }

    override def finish(buf: Array[Byte]): Array[Byte] = buf

    override def bufferEncoder: Encoder[Array[Byte]] = ExpressionEncoder()
    override def outputEncoder: Encoder[Array[Byte]] = ExpressionEncoder()
  }

  /** DataFrame-facing UDAF: `df.agg(bloomAgg(1 << 20, 7)(xxhash64(col)))`. */
  def bloomAgg(numBits: Int, numHashes: Int): UserDefinedFunction =
    functions.udaf(new BloomFilterAgg(numBits, numHashes),
      ExpressionEncoder[java.lang.Long]())

  /** Column-facing probe: `bloomMightContain(col("bloom"), xxhash64(c), 7)`.
    *
    * PREFER the Array[Byte] overload for a query-constant filter. A
    * column-valued bloom (e.g. via `crossJoin(broadcast(bloomDf))`)
    * re-reads the filter bytes out of the joined UnsafeRow on EVERY probe,
    * and `getBinary` COPIES — a 1 MiB filter probed by 100k rows is
    * ~100 GB of memcpy (measured 10× on bf1 before the literal form). */
  def bloomMightContain(bloom: Column, key: Column, numHashes: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(BloomMightContainExpr(
      org.apache.spark.sql.graft.Bridge.expression(bloom),
      org.apache.spark.sql.graft.Bridge.expression(key), numHashes))

  /** Probe against a QUERY-CONSTANT filter: the bytes ride as one
    * [[BloomBits]] constant — codegen references the one array (no
    * per-row copy, no join to carry the bytes), exactly how Spark's own
    * injected runtime bloom filters reach their probe side. The build
    * aggregate's 1-row result is driver-collected by the caller — a
    * bounded, fixed-size sketch (numBits/8 bytes however large the build
    * side), the same budget class as a broadcast dimension. */
  def bloomMightContain(bloom: Array[Byte], key: Column, numHashes: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(BloomMightContainExpr(
      BloomBits(bloom), org.apache.spark.sql.graft.Bridge.expression(key),
      numHashes))
}

/** A query-constant filter's bytes as a leaf. Codegen references the one
  * array through `ctx.addReferenceObj`, as a binary `Literal` does, but
  * the plan prints `bloom(<numBits> bits, <digest>)`: a `Literal` prints
  * every byte in hex, 2 MiB per plan rendering at the default 2^23 bits.
  * Not foldable, or ConstantFolding turns it back into a `Literal`.
  * Equal bytes are equal constants, as for a `Literal`. */
case class BloomBits(bits: Array[Byte]) extends LeafExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def foldable: Boolean = false

  override def eval(input: InternalRow): Any = bits

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    ExprCode.forNonNullValue(JavaCode.global(
      ctx.addReferenceObj("bloomBits", bits, "byte[]"), BinaryType))

  private lazy val digest = java.util.Arrays.hashCode(bits)
  override def hashCode: Int = digest
  override def equals(o: Any): Boolean = o match {
    case b: BloomBits => java.util.Arrays.equals(bits, b.bits)
    case _ => false
  }

  override def toString: String = f"bloom(${bits.length * 8L}%d bits, $digest%08x)"
  override def sql: String = toString
}

/** `mightContain(bloomBytes, key)` as a native expression — stays inside
  * whole-stage codegen (a Scala-UDF probe would box every row and break
  * the codegen span around the scan it filters). */
case class BloomMightContainExpr(left: Expression, right: Expression,
                                 numHashes: Int)
    extends BinaryExpression {
  require(numHashes >= 1)

  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_might_contain"

  override def nullSafeEval(bitsAny: Any, keyAny: Any): Any =
    Bloom.mightContain(bitsAny.asInstanceOf[Array[Byte]],
      keyAny.asInstanceOf[Long], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, k) =>
      s"graft.functions.Bloom.mightContain($b, $k, $numHashes)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
