package graft.functions.kernels

import java.io.{ByteArrayOutputStream, DataOutputStream, DataInputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Open-addressed set of 128-bit hash values (two parallel long arrays,
  * linear probing, power-of-2 capacity): the aggregation buffer behind
  * [[DistinctCountAgg]]. 16 bytes per distinct value regardless of the
  * value's own length — the set never stores the value, only its two
  * independently-seeded xxhash64 halves — so the per-partition partial
  * buffers, their serialized exchange form and the merge cost are all
  * flat in value size (the previous `HashSet[UTF8String]` buffer cloned,
  * boxed and shuffled every distinct string whole; on comment-length
  * columns the partials were data-sized). The all-zero slot marks
  * emptiness; a genuine (0,0) hash pair is tracked by a side flag. */
final class Hash128Set(initialCapacity: Int) {
  // PER-INSTANCE probe seed — the [[DoubleCountMap]] lesson verbatim:
  // without it, merging one set into another inserts pairs in the
  // SOURCE's slot order, which under a shared probe function is
  // home-slot-sorted order in the target too — every insert packs a
  // dense run the next inserts must traverse and the final-stage merge
  // goes quadratic. The seed only moves slot layout; contents and the
  // exact count are unchanged.
  private val seed = {
    var z = Hash128Set.instanceCounter.incrementAndGet() *
      -7046029254386353131L
    z ^= z >>> 33; z *= 0xff51afd7ed558ccdL
    z ^= z >>> 33; z *= 0xc4ceb9fe1a85ec53L
    z ^= z >>> 33
    z
  }
  private var a = new Array[Long](initialCapacity)
  private var b = new Array[Long](initialCapacity)
  private var used = 0
  private var hasZero = false

  def size: Int = used + (if (hasZero) 1 else 0)

  private def home(h1: Long, h2: Long, mask: Int): Int = {
    // fmix64 over the seeded pair mix: full avalanche before masking
    var h = (h1 * 0x9E3779B97F4A7C15L ^ h2) ^ seed
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    (h & mask).toInt
  }

  def add(h1: Long, h2: Long): Unit = {
    if (h1 == 0L && h2 == 0L) { hasZero = true; return }
    // grow at 70% load BEFORE probing, so the probe always terminates
    // (Long arithmetic: the Int product wraps negative past ~188M entries)
    if ((used + 1).toLong * 10 >= a.length.toLong * 7) grow()
    val mask = a.length - 1
    var i = home(h1, h2, mask)
    while (!(a(i) == 0L && b(i) == 0L)) {
      if (a(i) == h1 && b(i) == h2) return
      i = (i + 1) & mask
    }
    a(i) = h1; b(i) = h2; used += 1
  }

  private def grow(): Unit = {
    val (oa, ob) = (a, b)
    if (oa.length >= (1 << 30))
      // 2^30 slots = 16 GB of hash arrays in ONE buffer — past any sane
      // exact-mode use; fail with guidance instead of a wrapped shift
      throw new IllegalStateException(
        "exact distinct set exceeded 2^30 entries in one aggregation " +
          "buffer — use the approximate mode (exactDistinct = false) for " +
          "columns of this cardinality")
    a = new Array[Long](oa.length << 1)
    b = new Array[Long](oa.length << 1)
    used = 0
    var i = 0
    while (i < oa.length) {
      if (!(oa(i) == 0L && ob(i) == 0L)) add(oa(i), ob(i))
      i += 1
    }
  }

  /** Apply `f` to every stored pair (the zero pair included if present),
    * in slot order. Slot order depends on this instance's probe `seed`, so
    * two sets holding the same pairs visit them in different orders. */
  def foreachPair(f: (Long, Long) => Unit): Unit = {
    if (hasZero) f(0L, 0L)
    var i = 0
    while (i < a.length) {
      if (!(a(i) == 0L && b(i) == 0L)) f(a(i), b(i))
      i += 1
    }
  }
}

object Hash128Set {
  private val instanceCounter = new java.util.concurrent.atomic.AtomicLong()
  def empty: Hash128Set = new Hash128Set(64)
}

/** Exact distinct count WITHOUT the Expand: Spark plans `count(DISTINCT c)`
  * over k different columns as an Expand producing (k+1)× the input rows —
  * the dominant cost of the exact profile pass (q17-family; the numeric
  * columns escaped via [[NumericProfileAgg]], the string/date/decimal
  * columns still paid it). This typed-imperative aggregate is a REGULAR
  * aggregate to the planner (one ObjectHashAggregate, no Expand) holding a
  * per-column [[Hash128Set]] of 128-bit value hashes; callers feed it an
  * injectively-stringified value (`cast(v as string)` — injective for
  * string/date/timestamp/decimal/boolean), so one kernel serves every
  * non-numeric orderable type.
  *
  * Exactness: the count is the number of distinct 128-bit
  * (xxhash64@seed1, xxhash64@seed2) pairs — it undercounts only if two
  * DISTINCT values collide on BOTH independent 64-bit hashes, probability
  * ≤ n²/2¹²⁹ (n = true distinct count; at n = 10⁹ that is ~10⁻²¹ — far
  * below the chance of a memory bit-flip corrupting a true exact count).
  * Memory is 16 bytes × distinct values per column per partial buffer —
  * bounded in VALUE COUNT but not value length, same contract as before
  * but length-independent (the 100 TB default remains
  * `approx_count_distinct`). Nulls are ignored; all-null input counts 0. */
case class DistinctCountAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Hash128Set] {

  override def children: Seq[Expression] = Seq(child)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"distinct_count_set input must be cast to string, got ${child.dataType}")

  override def createAggregationBuffer(): Hash128Set = Hash128Set.empty

  override def update(buf: Hash128Set, input: InternalRow): Hash128Set = {
    val v = child.eval(input)
    if (v != null) {
      // hash the UTF8String bytes in place — no clone, no copy; the two
      // seeds give independent 64-bit halves of the 128-bit identity
      val s = v.asInstanceOf[UTF8String]
      buf.add(
        XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L),
        XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes,
          0x5851F42D4C957F2DL))
    }
    buf
  }

  override def merge(buf: Hash128Set, other: Hash128Set): Hash128Set = {
    other.foreachPair(buf.add)
    buf
  }

  override def eval(buf: Hash128Set): Any = buf.size.toLong

  /** Pair order in the bytes follows [[Hash128Set.foreachPair]], which
    * depends on the buffer's per-instance probe seed: the same logical
    * partial (a retried task, say) can serialize to different bytes. That
    * is safe because the only consumer is [[merge]], a set union, which
    * is insensitive to insertion order. */
  override def serialize(buf: Hash128Set): Array[Byte] = {
    val bytesNeeded = 4L + 16L * buf.size
    if (bytesNeeded > Int.MaxValue - 8)
      throw new IllegalStateException(
        s"exact distinct buffer (${buf.size} entries) exceeds the 2 GB " +
          "serialized-partial limit — use exactDistinct = false for " +
          "columns of this cardinality")
    val bos = new ByteArrayOutputStream(bytesNeeded.toInt)
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreachPair { (h1, h2) => out.writeLong(h1); out.writeLong(h2) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Hash128Set = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    // size the table once for the known count (next power of 2 over load)
    val buf = new Hash128Set(
      math.max(64, Integer.highestOneBit(math.max(1, n * 10 / 7)) << 1))
    var i = 0
    while (i < n) {
      buf.add(in.readLong(), in.readLong())
      i += 1
    }
    buf
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def withNewMutableAggBufferOffset(offset: Int): DistinctCountAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): DistinctCountAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): DistinctCountAgg =
    copy(child = newChildren.head)

  override def prettyName: String = "distinct_count_set"
}

object DistinctCountAgg {
  /** Exact distinct count of `v` (cast to string by the caller when not
    * already a string) as a regular — never Expand-planned — aggregate. */
  def distinctCount(v: Column): Column =
    ColumnBridge.column(DistinctCountAgg(ColumnBridge.expression(v))
      .toAggregateExpression())
}
