package graft.expr

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native one-pass moment aggregate over an `array<long>` vector column:
  * everything the integer power-iteration PCA (Features.pcaTop) needs
  * from the corpus, in ONE scan with no explode —
  *
  *  - `n`:    rows processed (null/empty vectors included — the mean
  *            divisor contract of the historic `emb.count()`);
  *  - `hist`: rows per vector LENGTH (hist(L−1) = #rows of length L),
  *            so a ragged corpus's per-(i,j) contributing-row counts
  *            stay reconstructible exactly;
  *  - `sl`:   per-(dim, length) sums — sl(i, L−1) = Σ x_i over rows of
  *            length exactly L (i < L), the ragged-exact refinement of
  *            the per-dim sums (global S_i = Σ_L sl(i, L−1));
  *  - `gram`: raw second moments — gram(i·D+j) = Σ x_i·x_j over rows
  *            carrying both dims;
  *  - `np`, `ns`: null-element corrections, zero on a dense corpus.
  *            A null element contributes nothing (the historic explode
  *            summed `(x_i−μ_i)(x_j−μ_j)`, null when either side is), so
  *            for every row long enough to carry both dims but with x_i or
  *            x_j null: np(i·D+j) counts the row and ns(i·D+j) adds x_i
  *            (0 when x_i is itself null).
  *
  * The centered covariance then follows by exact integer algebra
  * (Σ(x_i−μ_i)(x_j−μ_j) = G_ij − μ_i·S_j|ij − μ_j·S_i|ij + m_ij·μ_i·μ_j,
  * with the |ij terms restricted to rows long enough to carry both dims
  * — recovered from `sl`/`hist` suffix sums, less `ns`/`np`), replacing the historic
  * 64²-struct explode + 4096-group hash aggregate (guide §2.3: the
  * explode manufactured D² rows per vector just to sum them; here each
  * vector's D² multiply-adds run in a tight loop against one buffer).
  * Commutative/associative merge, so partial aggregation and AQE
  * repartitioning cannot change results. */
case class GramSumsAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[GramSumsAgg.Buf] with UnaryLike[Expression] {

  import GramSumsAgg.Buf

  override def prettyName: String = "gram_sums_agg"

  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("hist", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("sl", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("gram", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("np", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("ns", ArrayType(LongType, containsNull = false), nullable = false)))

  override def nullable: Boolean = false

  override def createAggregationBuffer(): Buf = new Buf(0)

  override def update(buffer: Buf, input: InternalRow): Buf = {
    val v = child.eval(input)
    buffer.n += 1
    if (v != null) {
      val a = v.asInstanceOf[ArrayData]
      val len = a.numElements()
      if (len > 0) {
        val b = if (len > buffer.d) buffer.grow(len) else buffer
        b.hist(len - 1) += 1
        // one null scan per row: a dense row stays a bulk copy; a row
        // with nulls reads them as 0, so they add nothing to sl and gram
        val nulls = (0 until len).exists(a.isNullAt)
        val arr =
          if (nulls) Array.tabulate(len)(i => if (a.isNullAt(i)) 0L else a.getLong(i))
          else a.toLongArray()
        var i = 0
        while (i < len) {
          val xi = arr(i)
          b.sl(i * b.d + (len - 1)) += xi
          var j = 0
          val row = i * b.d
          while (j < len) { b.gram(row + j) += xi * arr(j); j += 1 }
          i += 1
        }
        if (nulls) {
          i = 0
          while (i < len) {
            var j = 0
            while (j < len) {
              if (a.isNullAt(i) || a.isNullAt(j)) {
                b.np(i * b.d + j) += 1
                b.ns(i * b.d + j) += arr(i)
              }
              j += 1
            }
            i += 1
          }
        }
        return b
      }
    }
    buffer
  }

  override def merge(buffer: Buf, other: Buf): Buf = {
    val (big, small) =
      if (buffer.d >= other.d) (buffer, other) else (other, buffer)
    big.n += small.n
    var l = 0
    while (l < small.d) { big.hist(l) += small.hist(l); l += 1 }
    var i = 0
    while (i < small.d) {
      var j = 0
      while (j < small.d) {
        big.sl(i * big.d + j) += small.sl(i * small.d + j)
        big.gram(i * big.d + j) += small.gram(i * small.d + j)
        big.np(i * big.d + j) += small.np(i * small.d + j)
        big.ns(i * big.d + j) += small.ns(i * small.d + j)
        j += 1
      }
      i += 1
    }
    big
  }

  override def eval(buffer: Buf): Any = {
    InternalRow(buffer.n,
      new GenericArrayData(buffer.hist),
      new GenericArrayData(buffer.sl),
      new GenericArrayData(buffer.gram),
      new GenericArrayData(buffer.np),
      new GenericArrayData(buffer.ns))
  }

  override def serialize(buffer: Buf): Array[Byte] = {
    val d = buffer.d
    val bb = ByteBuffer.allocate(8 + 4 + 8 * (d + d * d * 4))
    bb.putLong(buffer.n).putInt(d)
    buffer.hist.foreach(bb.putLong)
    Seq(buffer.sl, buffer.gram, buffer.np, buffer.ns).foreach(_.foreach(bb.putLong))
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getLong()
    val d = bb.getInt()
    val b = new Buf(d)
    b.n = n
    var i = 0
    while (i < d) { b.hist(i) = bb.getLong(); i += 1 }
    Seq(b.sl, b.gram, b.np, b.ns).foreach { m =>
      i = 0
      while (i < d * d) { m(i) = bb.getLong(); i += 1 }
    }
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): GramSumsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): GramSumsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): GramSumsAgg =
    copy(child = newChild)
}

object GramSumsAgg {
  /** Growable moment buffer — `d` is the largest vector length seen so
    * far; rows are row-major d×d. */
  final class Buf(var d: Int) {
    var n: Long = 0L
    var hist: Array[Long] = new Array[Long](d)
    var sl: Array[Long] = new Array[Long](d * d)
    var gram: Array[Long] = new Array[Long](d * d)
    var np: Array[Long] = new Array[Long](d * d)
    var ns: Array[Long] = new Array[Long](d * d)

    def grow(nd: Int): Buf = {
      val b = new Buf(nd)
      b.n = n
      System.arraycopy(hist, 0, b.hist, 0, d)
      var i = 0
      while (i < d) {
        System.arraycopy(sl, i * d, b.sl, i * nd, d)
        System.arraycopy(gram, i * d, b.gram, i * nd, d)
        System.arraycopy(np, i * d, b.np, i * nd, d)
        System.arraycopy(ns, i * d, b.ns, i * nd, d)
        i += 1
      }
      b
    }
  }
}
