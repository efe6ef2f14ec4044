package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.functions.{lit, xxhash64}
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType, LongType}

/** Per-bucket SET fingerprint of a key column as a native Catalyst
  * aggregate (`TypedImperativeAggregate`, the `TopKLongsAgg` idiom): for
  * every bucket, two independent mod-p sums of the keys' hashes, plus
  * one row count over all buckets. Its value is the encoded
  * [[BucketFingerprintAgg.Fingerprint]] (`binary`).
  *
  * The fingerprint is additive: the fingerprint of a multiset union is
  * the bucket-wise mod-p sum of the parts' fingerprints, so a fingerprint
  * observed when rows are committed can be summed with later ones
  * instead of re-reading the rows. Two equal sums for different sets
  * need a simultaneous collision of both (~p^-2 ~ 2.5e-19 per bucket).
  *
  * Rows whose `bucket` is null are skipped, which is how a caller
  * fingerprints a subset (`when(cond, bucket)`). The bucket itself is a
  * child, computed by the caller, so the bucket hash has one definition
  * (`Lineage.resumeBucket`); it must lie in `[0, buckets)`.
  *
  * The buffer serializes in the same sparse encoding the value uses, so
  * a partial aggregate ships about 9 bytes per touched bucket.
  */
case class BucketFingerprintAgg(
    bucket: Expression,
    h1: Expression,
    h2: Expression,
    bucketsExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BucketFingerprintAgg.Fingerprint] {

  import BucketFingerprintAgg._

  private lazy val buckets: Int = bucketsExpr.eval().asInstanceOf[Int]

  override def prettyName: String = "bucket_fingerprint"

  override def children: Seq[Expression] = Seq(bucket, h1, h2, bucketsExpr)

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(bucket, h1, h2).exists(_.dataType != LongType))
      TypeCheckResult.TypeCheckFailure("bucket_fingerprint expects bigint bucket and hashes")
    else if (bucketsExpr.dataType != IntegerType || !bucketsExpr.foldable)
      TypeCheckResult.TypeCheckFailure("bucket_fingerprint buckets must be a foldable int")
    else if (bucketsExpr.eval() == null || bucketsExpr.eval().asInstanceOf[Int] < 1)
      TypeCheckResult.TypeCheckFailure("bucket_fingerprint buckets must be >= 1")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = BinaryType

  override def nullable: Boolean = false

  override def createAggregationBuffer(): Fingerprint = new Fingerprint(buckets)

  override def update(b: Fingerprint, input: InternalRow): Fingerprint = {
    val bk = bucket.eval(input)
    if (bk != null)
      b.add(bk.asInstanceOf[Long].toInt,
        Math.floorMod(h1.eval(input).asInstanceOf[Long], P),
        Math.floorMod(h2.eval(input).asInstanceOf[Long], P))
    b
  }

  override def merge(b: Fingerprint, other: Fingerprint): Fingerprint = b.merge(other)

  override def eval(b: Fingerprint): Any = b.encode

  override def serialize(b: Fingerprint): Array[Byte] = b.encode

  override def deserialize(bytes: Array[Byte]): Fingerprint = Fingerprint.decode(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): BucketFingerprintAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): BucketFingerprintAgg =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BucketFingerprintAgg =
    copy(bucket = newChildren(0), h1 = newChildren(1), h2 = newChildren(2),
      bucketsExpr = newChildren(3))
}

object BucketFingerprintAgg {

  /** Modulus of the sums: a prime below 2^31, so a sum fits in 31 bits
    * and a bucket's two sums pack into one long.
    */
  val P = 2000000011L

  /** The fingerprint of `key` over the rows whose `bucket` (a bigint
    * in `[0, buckets)`) is not null, as an aggregate column. The two
    * hashes are `xxhash64(key, 71)` and `xxhash64(key, 1213)`.
    */
  def of(bucket: Column, key: Column, buckets: Int): Column =
    PlanBridge.column(BucketFingerprintAgg(
      PlanBridge.expression(bucket),
      PlanBridge.expression(xxhash64(key, lit(71))),
      PlanBridge.expression(xxhash64(key, lit(1213))),
      Literal(buckets)).toAggregateExpression())

  /** The aggregation buffer and value: per-bucket sums in `[0, P)`, the
    * buckets that received a row, and the row count.
    */
  final class Fingerprint(val buckets: Int) {
    private val touched = new java.util.BitSet(buckets)
    private val s1 = new Array[Long](buckets)
    private val s2 = new Array[Long](buckets)

    /** Rows added, over all buckets. */
    var rows = 0L

    def add(b: Int, h1: Long, h2: Long): Unit = {
      touched.set(b)
      s1(b) = (s1(b) + h1) % P
      s2(b) = (s2(b) + h2) % P
      rows += 1
    }

    /** Adds `other`'s rows to this fingerprint. */
    def merge(other: Fingerprint): Fingerprint = {
      require(other.buckets == buckets,
        s"fingerprints over ${other.buckets} and $buckets buckets do not add")
      var b = other.touched.nextSetBit(0)
      while (b >= 0) {
        touched.set(b)
        s1(b) = (s1(b) + other.s1(b)) % P
        s2(b) = (s2(b) + other.s2(b)) % P
        b = other.touched.nextSetBit(b + 1)
      }
      rows += other.rows
      this
    }

    /** The buckets that received a row here and whose sums differ from
      * `other`'s, ascending.
      */
    def differing(other: Fingerprint): Seq[Long] = {
      require(other.buckets == buckets,
        s"fingerprints over ${other.buckets} and $buckets buckets do not compare")
      val out = Seq.newBuilder[Long]
      var b = touched.nextSetBit(0)
      while (b >= 0) {
        if (s1(b) != other.s1(b) || s2(b) != other.s2(b)) out += b.toLong
        b = touched.nextSetBit(b + 1)
      }
      out.result()
    }

    /** Sparse encoding: varints `buckets`, `rows` and the number of
      * touched buckets, then per touched bucket, ascending, the varint
      * gap from the previous one and its two sums packed in 8 bytes.
      */
    def encode: Array[Byte] = {
      val k = touched.cardinality()
      val bb = ByteBuffer.allocate(3 * 10 + k * (5 + 8))
      putVarLong(bb, buckets.toLong)
      putVarLong(bb, rows)
      putVarLong(bb, k.toLong)
      var prev = -1
      var b = touched.nextSetBit(0)
      while (b >= 0) {
        putVarLong(bb, (b - prev - 1).toLong)
        bb.putLong((s1(b) << 32) | s2(b))
        prev = b
        b = touched.nextSetBit(b + 1)
      }
      java.util.Arrays.copyOf(bb.array(), bb.position())
    }
  }

  object Fingerprint {

    def decode(bytes: Array[Byte]): Fingerprint = {
      val bb = ByteBuffer.wrap(bytes)
      val fp = new Fingerprint(getVarLong(bb).toInt)
      fp.rows = getVarLong(bb)
      val k = getVarLong(bb)
      var prev = -1
      var i = 0L
      while (i < k) {
        val b = prev + 1 + getVarLong(bb).toInt
        val sums = bb.getLong()
        fp.touched.set(b)
        fp.s1(b) = sums >>> 32
        fp.s2(b) = sums & 0xffffffffL
        prev = b
        i += 1
      }
      require(!bb.hasRemaining, s"${bb.remaining} trailing bytes after a fingerprint")
      fp
    }
  }

  private def putVarLong(bb: ByteBuffer, v: Long): Unit = {
    var x = v
    while ((x & ~0x7fL) != 0L) { bb.put(((x & 0x7f) | 0x80).toByte); x >>>= 7 }
    bb.put(x.toByte)
  }

  private def getVarLong(bb: ByteBuffer): Long = {
    var x = 0L
    var shift = 0
    var byte = 0
    do {
      byte = bb.get() & 0xff
      x |= (byte & 0x7fL) << shift
      shift += 7
    } while ((byte & 0x80) != 0)
    x
  }
}
