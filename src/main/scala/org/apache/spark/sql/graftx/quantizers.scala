/*
 * Driver-held vector quantizers and the two expressions plus one
 * aggregate that train and serve them: nearest_centroid (assignment,
 * codes and probes), adc_score (PQ asymmetric-distance scoring) and
 * lloyd_step (one Lloyd update for several quantizers in one pass).
 * Same package rationale as expressions.scala.
 */
package org.apache.spark.sql.graftx

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/** A vector quantizer small enough to live on the driver: k centroid
  * ids and their float vectors (a coarse IVF model has k rows, a PQ
  * subspace k rows). Expressions embed it as a plan-time constant, so
  * assigning, encoding and probing are narrow maps with no broadcast
  * join and no shuffle.
  *
  * Ranking contract, shared by every caller: centroids are ordered by
  * `struct(cos, -id)` descending — the cosine first (a NULL cosine,
  * from a zero norm or a size mismatch, ranks lowest; Spark's double
  * ordering otherwise, NaN highest and -0.0 = 0.0), then the lower id.
  * That is both the `max(struct(cos, -id))` argmax of an assignment
  * and the `ORDER BY cdist DESC NULLS LAST, cell` of a probe list.
  * Duplicate ids are kept as separate entries, exactly as a seed table
  * with a duplicated id would be.
  */
final class Codebook(val ids: Array[Long], val vecs: Array[ArrayData]) extends Serializable {
  require(ids.length == vecs.length)
  def size: Int = ids.length

  /** Cosine of `a` to entry `j` ([[CosineSim.compute]]; NULL for a
    * NULL vector on either side).
    */
  def cos(a: ArrayData, j: Int): java.lang.Double =
    if (a == null || vecs(j) == null) null else CosineSim.compute(a, vecs(j))

  /** Index of the best entry for `a` under the ranking contract. */
  def nearestIndex(a: ArrayData): Int = {
    var best = 0
    var bestCos = cos(a, 0)
    var j = 1
    while (j < ids.length) {
      val c = cos(a, j)
      if (Codebook.ranksAbove(c, ids(j), bestCos, ids(best))) { best = j; bestCos = c }
      j += 1
    }
    best
  }

  /** The best `n` entries for `a` as array<struct<cell, cos, centroid>>,
    * best first.
    */
  def nearest(a: ArrayData, n: Int): ArrayData = {
    val cs = Array.tabulate(ids.length)(j => cos(a, j))
    val order = (0 until ids.length).sortWith((x, y) => Codebook.ranksAbove(cs(x), ids(x), cs(y), ids(y)))
    new GenericArrayData(order.take(n).map(j =>
      InternalRow(ids(j), cs(j), vecs(j)): Any).toArray)
  }

  /** The same model with every vector cut to Spark's
    * `slice(v, start + 1, len)`.
    */
  def sliced(start: Int, len: Int): Codebook =
    new Codebook(ids, vecs.map(v => Codebook.slice(v, start, len)))

  override def toString: String = s"Codebook(k=$size)"
}

object Codebook {
  /** Strict order of the ranking contract: (c1, id1) before (c2, id2). */
  def ranksAbove(c1: java.lang.Double, id1: Long, c2: java.lang.Double, id2: Long): Boolean = {
    val byCos =
      if (c1 == null) { if (c2 == null) 0 else -1 }
      else if (c2 == null) 1
      else SQLOrderingUtil.compareDoubles(c1.doubleValue, c2.doubleValue)
    if (byCos != 0) byCos > 0 else id1 < id2
  }

  /** A float vector as ArrayData, NULL elements kept (boxed, NULL
    * allowed): the representation collected rows and stored tables
    * come back in.
    */
  def floats(v: scala.collection.Seq[Any]): ArrayData =
    if (v == null) null
    else if (v.contains(null)) new GenericArrayData(v.toArray)
    else UnsafeArrayData.fromPrimitiveArray(v.map(_.asInstanceOf[Float]).toArray)

  /** The elements of `v`, NULL elements as null: the inverse of [[floats]]. */
  def boxed(v: ArrayData): Seq[java.lang.Float] =
    if (v == null) null
    else (0 until v.numElements()).map(i =>
      if (v.isNullAt(i)) null else java.lang.Float.valueOf(v.getFloat(i)))

  /** Spark's `slice(v, start + 1, len)` for start ≥ 0: an empty array
    * when the slice begins past the end, shorter when it runs over.
    */
  def slice(v: ArrayData, start: Int, len: Int): ArrayData =
    if (v == null) null
    else {
      val from = math.min(start, v.numElements())
      val to = math.min(v.numElements(), from + len)
      floats(boxed(v).slice(from, to))
    }

  val entryType: StructType = StructType(Seq(
    StructField("cell", LongType, nullable = false),
    StructField("cos", DoubleType, nullable = true),
    StructField("centroid", ArrayType(FloatType, containsNull = true), nullable = true)))
}

/** `nearest_centroid(v, codebook, n)`: the `n` centroids of a
  * driver-held [[Codebook]] nearest to `v`, best first, as
  * array<struct<cell, cos, centroid>> (`cos` unrounded). One call is a
  * Voronoi assignment (n = 1), a PQ code (over a slice), or a probe
  * list (n = nProbe). A NULL `v` scores NULL against every centroid,
  * so it still gets the lowest-id entries. Column-API only: the
  * codebook is a plan constant, not a SQL literal.
  */
case class NearestCentroid(child: Expression, codebook: Codebook, n: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(codebook.size > 0, "nearest_centroid needs at least one centroid")
  require(n >= 1)
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(Codebook.entryType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "nearest_centroid"

  override def eval(input: InternalRow): Any =
    codebook.nearest(child.eval(input).asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val cb = ctx.addReferenceObj("codebook", codebook, classOf[Codebook].getName)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
      |  $cb.nearest(${c.isNull} ? null : ${c.value}, $n);
      """.stripMargin, isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** The frozen quantizers ADC scoring reads: one codebook per subspace
  * (raw or residual codes) and, for residual codes, the coarse model
  * the residuals were taken against.
  */
final class AdcModel(val subDim: Int, val codebooks: Array[Codebook],
                     val coarse: Option[Codebook]) extends Serializable {
  /** id → first entry index, per subspace codebook and for the coarse model. */
  private val codeIndex: Array[Map[Long, Int]] =
    codebooks.map(cb => cb.ids.zipWithIndex.reverseIterator.toMap)
  private val coarseIndex: Map[Long, Int] =
    coarse.map(_.ids.zipWithIndex.reverseIterator.toMap).getOrElse(Map.empty)
  /** Per coarse entry, its centroid cut into the m subspace slices. */
  private val coarseSlices: Array[Array[ArrayData]] = coarse.map(cb =>
    cb.vecs.map(v => Array.tabulate(codebooks.length)(s =>
      Codebook.slice(v, s * subDim, subDim)))).getOrElse(Array.empty)

  private def add(a: java.lang.Double, b: java.lang.Double): java.lang.Double =
    if (a == null || b == null) null else java.lang.Double.valueOf(a + b)

  private def lookup(index: Map[Long, Int], key: Long, what: String): Int =
    index.getOrElse(key, throw new IllegalArgumentException(
      s"adc_score: $what $key is not in the model"))

  /** cos(query, reconstruction) from the codes alone: per subspace
    * `qd_s = q_s·r_s` and `ns_s = r_s·r_s` ([[DotProduct.compute]]),
    * summed `qd_0 + … + qd_{m-1}` in subspace order; NULL when the
    * query norm or the reconstruction norm is 0. With residual codes
    * the reconstruction is c_s + r_s: `q_s·c_s + q_s·r_s` and
    * `c_s·c_s + 2·c_s·r_s + r_s·r_s`. `keys` is [cell,] c_0 … c_{m-1}.
    */
  def score(q: ArrayData, keys: Array[Long]): java.lang.Double = {
    if (q == null) return null
    val c = coarse.map(_ => coarseSlices(lookup(coarseIndex, keys(0), "cell")))
    val codes = if (coarse.isDefined) keys.drop(1) else keys
    var num: java.lang.Double = null
    var den: java.lang.Double = null
    var s = 0
    while (s < codebooks.length) {
      val qs = Codebook.slice(q, s * subDim, subDim)
      val r = codebooks(s).vecs(lookup(codeIndex(s), codes(s), s"code c_$s"))
      val (nums, dens) = c match {
        case None => (DotProduct.compute(qs, r), DotProduct.compute(r, r))
        case Some(cs) =>
          val cv = cs(s)
          val cr = DotProduct.compute(cv, r)
          (add(DotProduct.compute(qs, cv), DotProduct.compute(qs, r)),
            add(add(DotProduct.compute(cv, cv),
              if (cr == null) null else java.lang.Double.valueOf(2.0 * cr)),
              DotProduct.compute(r, r)))
      }
      num = if (s == 0) nums else add(num, nums)
      den = if (s == 0) dens else add(den, dens)
      s += 1
    }
    val qn2 = DotProduct.compute(q, q)
    if (qn2 == null || den == null || num == null || qn2 == 0.0 || den == 0.0) null
    else {
      val d = math.sqrt(qn2) * math.sqrt(den)
      if (d == 0.0) null else java.lang.Double.valueOf(num / d)
    }
  }

  override def toString: String =
    s"AdcModel(m=${codebooks.length}, subDim=$subDim, residual=${coarse.isDefined})"
}

/** `adc_score(q, [cell,] c_0, …, c_{m-1})`: the ADC cosine of query
  * vector `q` to the vector encoded by codes `c_s` under a driver-held
  * [[AdcModel]] (codebooks as plan constants). `cell` is present only
  * for residual codes. A code or cell missing from the model raises.
  * Column-API only.
  */
case class AdcScore(children: Seq[Expression], model: AdcModel)
    extends Expression with ImplicitCastInputTypes {
  private val nKeys = children.length - 1
  require(nKeys == model.codebooks.length + (if (model.coarse.isDefined) 1 else 0))
  override def inputTypes: Seq[AbstractDataType] =
    ArrayType(FloatType) +: Seq.fill(nKeys)(LongType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "adc_score"

  override def eval(input: InternalRow): Any = {
    val keys = children.tail.map { c =>
      val v = c.eval(input)
      if (v == null) throw new IllegalArgumentException("adc_score: NULL code")
      v.asInstanceOf[Long]
    }.toArray
    model.score(children.head.eval(input).asInstanceOf[ArrayData], keys)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen._
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val m = ctx.addReferenceObj("adcModel", model, classOf[AdcModel].getName)
    val q = children.head.genCode(ctx)
    val keys = ctx.freshName("keys")
    val r = ctx.freshName("adc")
    val fill = children.tail.zipWithIndex.map { case (c, i) =>
      val e = c.genCode(ctx)
      s"""
         |${e.code}
         |if (${e.isNull}) throw new IllegalArgumentException("adc_score: NULL code");
         |$keys[$i] = ${e.value};
       """.stripMargin
    }.mkString("\n")
    ev.copy(code = code"""
      |${q.code}
      |long[] $keys = new long[$nKeys];
      |$fill
      |java.lang.Double $r = $m.score(${q.isNull} ? null : ${q.value}, $keys);
      |boolean ${ev.isNull} = $r == null;
      |double ${ev.value} = ${ev.isNull} ? 0.0 : $r.doubleValue();
      """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

/** Per-quantizer, per-cluster Lloyd sums: for every dimension the sum
  * of quantized coordinates, the member count and the count of
  * non-NULL coordinates, flat as [sum, n, nonNull] × dims (grown to
  * the longest member vector; null until the cluster gets a member).
  */
final class LloydSums(val cells: Array[Array[Array[Long]]])

/** `lloyd_step(v_0, …, v_{Q-1})` over Q driver-held quantizers: ONE
  * global aggregate that assigns every row to its nearest centroid in
  * every quantizer at once ([[Codebook.nearestIndex]]) and sums its
  * coordinates per (quantizer, cluster) in 1e-6-quantized integers —
  * `floor(v·scale + 0.5)` as BIGINT, so the sums are independent of
  * row order and partitioning. The result (BINARY, decode with
  * [[LloydStepAgg.centroids]]) is bounded by 3·Σk·d longs. Rows whose
  * input vector is NULL count toward no cluster. Column-API only.
  */
case class LloydStepAgg(children: Seq[Expression], codebooks: Seq[Codebook],
    quantScale: Double, mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[LloydSums] with ImplicitCastInputTypes {
  require(children.length == codebooks.length)
  require(codebooks.forall(_.size > 0), "lloyd_step needs at least one centroid per quantizer")

  @transient private lazy val slotIds: Seq[Array[Long]] = LloydStepAgg.slotIds(codebooks)
  /** Per quantizer, per codebook entry: the cluster slot its id owns. */
  @transient private lazy val entrySlot: Seq[Array[Int]] = codebooks.zip(slotIds).map {
    case (cb, ids) => cb.ids.map(id => java.util.Arrays.binarySearch(ids, id))
  }

  override def inputTypes: Seq[AbstractDataType] = Seq.fill(children.length)(ArrayType(FloatType))
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "lloyd_step"

  override def createAggregationBuffer(): LloydSums =
    new LloydSums(slotIds.map(ids => new Array[Array[Long]](ids.length)).toArray)

  override def update(buffer: LloydSums, input: InternalRow): LloydSums = {
    var q = 0
    while (q < children.length) {
      val v = children(q).eval(input).asInstanceOf[ArrayData]
      if (v != null && v.numElements() > 0) {
        val slot = entrySlot(q)(codebooks(q).nearestIndex(v))
        val d = v.numElements()
        var acc = buffer.cells(q)(slot)
        if (acc == null || acc.length < 3 * d) {
          val grown = new Array[Long](3 * d)
          if (acc != null) System.arraycopy(acc, 0, grown, 0, acc.length)
          acc = grown
          buffer.cells(q)(slot) = acc
        }
        var i = 0
        while (i < d) {
          acc(3 * i + 1) += 1
          if (!v.isNullAt(i)) {
            acc(3 * i) = Math.addExact(acc(3 * i),
              math.floor(v.getFloat(i).toDouble * quantScale + 0.5).toLong)
            acc(3 * i + 2) += 1
          }
          i += 1
        }
      }
      q += 1
    }
    buffer
  }

  override def merge(buffer: LloydSums, other: LloydSums): LloydSums = {
    for (q <- buffer.cells.indices; j <- buffer.cells(q).indices) {
      val o = other.cells(q)(j)
      if (o != null) {
        val b = buffer.cells(q)(j)
        val (wide, narrow) = if (b == null || b.length < o.length) (o.clone(), b) else (b, o)
        if (narrow != null) {
          var i = 0
          while (i < narrow.length) {
            wide(i) = if (i % 3 == 0) Math.addExact(wide(i), narrow(i)) else wide(i) + narrow(i)
            i += 1
          }
        }
        buffer.cells(q)(j) = wide
      }
    }
    buffer
  }

  override def eval(buffer: LloydSums): Any = serialize(buffer)

  override def serialize(buffer: LloydSums): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    buffer.cells.foreach(_.foreach { acc =>
      if (acc == null) out.writeInt(-1)
      else { out.writeInt(acc.length); acc.foreach(out.writeLong) }
    })
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): LloydSums = LloydStepAgg.decode(bytes, slotIds)

  override def withNewMutableAggBufferOffset(o: Int): LloydStepAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): LloydStepAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

object LloydStepAgg {
  /** Per quantizer: its distinct centroid ids ascending — the cluster
    * slots of the sums.
    */
  def slotIds(codebooks: Seq[Codebook]): Seq[Array[Long]] = codebooks.map(_.ids.distinct.sorted)

  private def decode(bytes: Array[Byte], slotIds: Seq[Array[Long]]): LloydSums = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    new LloydSums(slotIds.map(ids => Array.fill(ids.length) {
      val len = in.readInt()
      if (len < 0) null else Array.fill(len)(in.readLong())
    }).toArray)
  }

  /** The next round's quantizers from a collected `lloyd_step` result
    * over `codebooks`: per cluster with a member, ids ascending, each
    * coordinate `(sq − pmod(sq, n)) div n` micro-units, then `/ scale`
    * and FLOAT (NULL where every member's coordinate was NULL).
    * Clusters that got no member drop out.
    */
  def centroids(bytes: Array[Byte], codebooks: Seq[Codebook], quantScale: Double): Seq[Codebook] = {
    val slots = slotIds(codebooks)
    slots.zip(decode(bytes, slots).cells).map { case (ids, cells) =>
      val kept = ids.indices.filter(j => cells(j) != null)
      new Codebook(kept.map(ids(_)).toArray, kept.map { j =>
        val acc = cells(j)
        val d = (0 until acc.length / 3).takeWhile(i => acc(3 * i + 1) > 0).length
        Codebook.floats((0 until d).map { i =>
          val (sq, n) = (acc(3 * i), acc(3 * i + 1))
          if (acc(3 * i + 2) == 0) null
          else (Math.floorDiv(sq, n).toDouble / quantScale).toFloat
        })
      }.toArray)
    }
  }
}
