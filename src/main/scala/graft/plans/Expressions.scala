package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BinaryExpression, CreateNamedStruct, EqualTo, Expression, ExpressionInfo, GreaterThan, If, IsNotNull, IsNull, LessThan, Literal, Or, UnaryExpression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{DeclarativeAggregate, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, TypeUtils}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the operators Spark's built-ins can't
  * express efficiently: content rolling-hash fingerprints, SimHash, vector
  * dot products and signatures, and bounded or pairwise aggregates.
  *
  * The scalars are single-pass expressions evaluated inside the projection
  * (no shuffle, no UDF serialization of Row objects); the SimHash variant
  * replaces what would otherwise be an explode + 64 conditional sums +
  * re-aggregate (a full extra shuffle per document corpus).
  *
  * The Column helpers at the end (`rollingHash`, `dotProduct`, …) call the
  * functions by name, so they resolve through the session's function
  * registry. [[graft.GraftExtensions]] fills that registry from
  * [[functions]] whenever a session is built, `newSession()` and cloned
  * sessions included, so no caller registers anything.
  */
object Expressions {

  /** Polynomial rolling hash of a string, mod the Mersenne prime 2^61−1.
    * The "document fingerprinting (rolling hash)" primitive: equal strings
    * ⇒ equal hashes; cheap to compute incrementally at 100 TB scale.
    */
  case class RollingHash(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override protected def nullSafeEval(v: Any): Any =
      Hashing.rollingHash(v.asInstanceOf[UTF8String].getBytes)
    // Real codegen (not CodegenFallback): the generated projection calls
    // the static-forwarded hash directly — no InternalRow materialization,
    // the expression stays inside the whole-stage pipeline.
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.plans.Hashing.rollingHash($c.getBytes())")
    override protected def withNewChildInternal(c: Expression): RollingHash = copy(c)
    override def prettyName: String = "rolling_hash"
  }

  /** 64-bit SimHash over an array of tokens: per-token FNV-1a 64 hash,
    * per-bit ±1 majority vote. Near-duplicate documents land within a few
    * bits of Hamming distance; dedup then bands the 64 bits and bucket-joins
    * (see graft.dedup.Dedup.simhashCandidates).
    */
  case class SimHash64(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override protected def nullSafeEval(v: Any): Any =
      Hashing.simhash64(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.plans.Hashing.simhash64($c)")
    override protected def withNewChildInternal(c: Expression): SimHash64 = copy(c)
    override def prettyName: String = "simhash64"
  }

  /** Fused dot product of two equal-length double arrays — replaces the
    * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` composite: the SAME
    * left-to-right double accumulation (bit-identical results, so every
    * cosine oracle is untouched), but one loop with no intermediate
    * product array allocated per evaluation. This is the hot inner
    * operation of every cosine candidate pair in the ANN / embedding-dedup
    * family, evaluated once per (query, candidate) or in-bucket pair.
    * Inputs follow the prepared-embedding contract (equal length, no null
    * elements); violations THROW rather than silently nulling the way the
    * zip_with composite would — a malformed vector is data corruption.
    */
  case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override protected def nullSafeEval(a: Any, b: Any): Any =
      VectorOps.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.plans.VectorOps.dot($a, $b)")
    override protected def withNewChildrenInternal(newLeft: Expression,
        newRight: Expression): DotProduct = copy(newLeft, newRight)
    override def prettyName: String = "dot_product"
  }

  /** Shannon entropy (bits) of a string's BYTE distribution — the
    * gibberish/binary-junk quality signal (low entropy = repeated
    * boilerplate, high entropy ≈ random bytes/encoded blobs). A byte
    * histogram is one 256-int array per evaluation and one pass over the
    * UTF-8 payload; the compositional alternative (explode chars →
    * groupBy(doc, char) → entropy agg) multiplies the corpus row count by
    * average document LENGTH before the first shuffle — at 100 TB that is
    * the difference between a scan-local projection and a corpus-sized
    * shuffle. Byte entropy equals character entropy on ASCII text and
    * stays well-defined (entropy of the UTF-8 stream) beyond it.
    */
  case class CharEntropy(child: Expression) extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override protected def nullSafeEval(v: Any): Any =
      TextStats.byteEntropy(v.asInstanceOf[UTF8String].getBytes)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.plans.TextStats.byteEntropy($c.getBytes())")
    override protected def withNewChildInternal(c: Expression): CharEntropy = copy(c)
    override def prettyName: String = "char_entropy"
  }

  /** b-bit random-hyperplane sign signature of a double vector — bit p =
    * sign(v · h_p) — with the plane matrix carried as ONE nested-array
    * literal and the dot products as a tight loop.
    *
    * Why not the Column spelling (per plane, a reduce over
    * `element_at(vec, d+1) * lit(s)` terms): those multiplies are not
    * foldable, so 6 planes × 64 dims put ~384 live expression nodes into
    * EVERY stage that computes a signature — whole-stage codegen then
    * compiles a giant method per stage, and on the kB-scale corpora the
    * bench runs, janino compile time dominates the query. This expression
    * generates one static call.
    *
    * Semantics are bit-identical to the Column spelling — INCLUDING nulls:
    * per plane the dot accumulates left-to-right in double (same IEEE order
    * as the reduce), bit p sets on dot >= 0, a null vector ELEMENT within
    * the plane's prefix yields signature 0, and a null vector (or null
    * plane matrix) ALSO yields 0, never NULL — the when(null >= 0)
    * .otherwise(0) path of the Column form zeroed every plane's bit, so
    * null-vector rows land in bucket 0 instead of dropping out of block
    * equi-joins. The expression is therefore non-nullable. A vector SHORTER
    * than the plane dimension throws like [[DotProduct]] does on length
    * mismatch — malformed input is data corruption, not a bucket. */
  case class SignSignature(left: Expression, right: Expression)
    extends BinaryExpression {
    override def dataType: DataType = LongType
    override def nullable: Boolean = false
    override def eval(input: InternalRow): Any = {
      val vec = left.eval(input)
      if (vec == null) 0L
      else {
        val planes = right.eval(input)
        if (planes == null) 0L
        else VectorOps.signSignature(vec.asInstanceOf[ArrayData],
          planes.asInstanceOf[ArrayData])
      }
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
      val l = left.genCode(ctx)
      val r = right.genCode(ctx)
      ev.copy(
        code = l.code + r.code +
          code"""
             |long ${ev.value} = (${l.isNull} || ${r.isNull}) ? 0L :
             |  graft.plans.VectorOps.signSignature(${l.value}, ${r.value});
             |""".stripMargin,
        isNull = FalseLiteral)
    }
    override protected def withNewChildrenInternal(newLeft: Expression,
        newRight: Expression): SignSignature = copy(newLeft, newRight)
    override def prettyName: String = "sign_signature"
  }

  /** Distinct-set aggregate whose in-memory buffer is CAPPED: values are
    * collected like `collect_set`, but once more than `cap` distinct values
    * have been seen the buffer is poisoned (it never grows past cap+1
    * elements) and the group evaluates to NULL. Groups with fewer than 2
    * distinct values also evaluate to NULL, so the result is exactly the
    * sorted distinct-id list for keys whose doc frequency lies in
    * [2, cap] — the inner primitive of [[graft.dedup.Dedup.boundedPairCounts]].
    *
    * Why not `collect_set` + a post-hoc size filter: collect_set's buffer
    * accumulates the FULL set for a ubiquitous hot key (stop-gram shingle,
    * boilerplate fingerprint — precisely the skew a df cap anticipates)
    * before the filter sees it, an executor-OOM hazard at corpus scale.
    * This aggregate's buffer is bounded by construction on the map side,
    * in shuffle-partial merges, and in the final merge — one exchange,
    * map-side combinable, O(cap) memory per key everywhere.
    *
    * Output order: ascending by the element type's natural SQL ordering
    * (same comparator as `array_sort`), so downstream pair emission
    * (`id_a < id_b`) matches the oracle's value comparison. */
  case class BoundedCollectSet(
      child: Expression,
      capExpr: Expression,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.HashSet[Any]]
    with BinaryLike[Expression] {

    private lazy val cap: Int = capExpr.eval().asInstanceOf[Number].intValue()
    @transient private lazy val ordering =
      TypeUtils.getInterpretedOrdering(child.dataType)
    // Cached per task — creating a projection per serialize() call would
    // pay a codegen-cache lookup for every key crossing the exchange.
    @transient private lazy val bufferProjection = UnsafeProjection.create(
      Array[DataType](ArrayType(child.dataType, containsNull = false)))

    override def left: Expression = child
    override def right: Expression = capExpr
    override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "bounded_collect_set"

    override def createAggregationBuffer(): java.util.HashSet[Any] =
      new java.util.HashSet[Any]()

    override def update(buf: java.util.HashSet[Any], input: InternalRow): java.util.HashSet[Any] = {
      val v = child.eval(input)
      // size == cap+1 is the poisoned state: stop adding, the group is
      // already known to be out of band.
      if (v != null && buf.size() <= cap) buf.add(InternalRow.copyValue(v))
      buf
    }

    override def merge(buf: java.util.HashSet[Any],
                       other: java.util.HashSet[Any]): java.util.HashSet[Any] = {
      val it = other.iterator()
      while (it.hasNext && buf.size() <= cap) buf.add(it.next())
      buf
    }

    override def eval(buf: java.util.HashSet[Any]): Any = {
      val n = buf.size()
      if (n < 2 || n > cap) null
      else new GenericArrayData(buf.toArray.sorted(ordering))
    }

    // Standard TypedImperativeAggregate byte-shuttle: the buffer crosses the
    // exchange as one unsafe array row (same scheme as Spark's Collect).
    override def serialize(buf: java.util.HashSet[Any]): Array[Byte] =
      bufferProjection(InternalRow(new GenericArrayData(buf.toArray))).getBytes

    override def deserialize(bytes: Array[Byte]): java.util.HashSet[Any] = {
      val buf = createAggregationBuffer()
      val row = new UnsafeRow(1)
      row.pointTo(bytes, bytes.length)
      row.getArray(0).foreach(child.dataType, (_, v) => buf.add(v))
      buf
    }

    override def withNewMutableAggBufferOffset(o: Int): BoundedCollectSet =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): BoundedCollectSet =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): BoundedCollectSet =
      copy(child = newLeft, capExpr = newRight)
  }

  /** Element-wise `sum(floor(x·scale))` of an `array<double>` column as one
    * BIGINT array — the Lloyd-refinement cell sum collapsed to a single
    * aggregate. The per-dimension spelling (`sum(floor(element_at(v, i+1) ·
    * scale))` × dim) is semantically identical but puts dim live aggregate
    * expressions into the plan; at dim = 64 the optimizer/planner work per
    * refinement pass measurably dominated the (tiny) task time of q63's
    * index build, and at production dims (768+) the per-column form is not
    * even writable. Math is bit-identical to the spelled-out form on every
    * non-degenerate input: each element contributes floor(x·scale) as a
    * long, summed order-free; NULL elements contribute nothing to their
    * dimension (as sum skips nulls); NULL vectors contribute nothing; an
    * all-NULL-vectors group evaluates to NULL.
    *
    * Two DELIBERATE divergences from the per-column spelling (ADVICE-r13):
    * a dimension that is null in EVERY row of a group yields 0 here where
    * the spelled `sum` yields NULL (the buffer has no per-dimension
    * seen-flag; callers treat missing mass as zero mass — the Lloyd mean
    * divides by the group count either way); and a length-0 input array
    * THROWS like a ragged length (the spelled form's `element_at(v, 1)`
    * errors on it too) — silently ignoring empties would make the result
    * depend on whether an empty row arrived before or after the first
    * sized row. Ragged vector lengths within a group throw — length
    * mismatch is data corruption, not a cell. Map-side combinable, O(dim)
    * memory per group everywhere. */
  case class VectorFloorSum(
      child: Expression,
      scaleExpr: Expression,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]]
    with BinaryLike[Expression] {

    private lazy val scale: Double = scaleExpr.eval().asInstanceOf[Number].doubleValue()
    @transient private lazy val bufferProjection = UnsafeProjection.create(
      Array[DataType](ArrayType(LongType, containsNull = false)))

    override def left: Expression = child
    override def right: Expression = scaleExpr
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "vector_floor_sum"

    override def createAggregationBuffer(): Array[Long] = Array.emptyLongArray

    override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
      val v = child.eval(input)
      if (v == null) buf
      else {
        val arr = v.asInstanceOf[ArrayData]
        val n = arr.numElements()
        // n == 0 must not fall into the buf.isEmpty re-size arm: an empty
        // vector would be silently ignored before the first sized row and
        // ragged-throw after it — an order-dependent verdict on the same
        // data. Degenerate input fails loudly regardless of arrival order.
        if (n == 0) throw new IllegalStateException(
          "vector_floor_sum: length-0 vector (empty arrays are degenerate input, not a zero contribution)")
        val b =
          if (buf.length == n) buf
          else if (buf.isEmpty) new Array[Long](n)
          else throw new IllegalStateException(
            s"vector_floor_sum: ragged vector lengths (${buf.length} vs $n)")
        var i = 0
        while (i < n) {
          if (!arr.isNullAt(i)) b(i) += math.floor(arr.getDouble(i) * scale).toLong
          i += 1
        }
        b
      }
    }

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
      if (a.isEmpty) b
      else if (b.isEmpty) a
      else {
        if (a.length != b.length) throw new IllegalStateException(
          s"vector_floor_sum: ragged vector lengths (${a.length} vs ${b.length})")
        var i = 0
        while (i < a.length) { a(i) += b(i); i += 1 }
        a
      }

    override def eval(buf: Array[Long]): Any =
      if (buf.isEmpty) null else new GenericArrayData(buf)

    override def serialize(buf: Array[Long]): Array[Byte] =
      bufferProjection(InternalRow(new GenericArrayData(buf))).getBytes

    override def deserialize(bytes: Array[Byte]): Array[Long] = {
      val row = new UnsafeRow(1)
      row.pointTo(bytes, bytes.length)
      row.getArray(0).toLongArray()
    }

    override def withNewMutableAggBufferOffset(o: Int): VectorFloorSum =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): VectorFloorSum =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): VectorFloorSum =
      copy(child = newLeft, scaleExpr = newRight)
  }

  /** K-th largest value per group (counting duplicates) via a bounded
    * min-heap of k elements — the threshold half of the top-k-prefilter
    * pattern (see [[graft.operators.WindowOps.thresholdedTopKPerGroup]]).
    * Map-side combinable with O(k) memory everywhere, so the corpus never
    * sorts: per-task heaps stream the scan (most rows fail the heap-min
    * check in O(1)), the exchange carries ≤ k values per (task, group),
    * and the final merge is k·tasks small. NULL result when the group has
    * fewer than k non-null values (= "no threshold, keep everything").
    * NULL inputs are ignored, matching `row_number` DESC NULLS LAST
    * ranking where nulls can never occupy a top-k slot that non-null
    * values fill. */
  case class KthLargest(
      child: Expression,
      kExpr: Expression,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.PriorityQueue[Any]]
    with BinaryLike[Expression] {

    private lazy val k: Int = kExpr.eval().asInstanceOf[Number].intValue()
    @transient private lazy val ordering =
      TypeUtils.getInterpretedOrdering(child.dataType)
    @transient private lazy val bufferProjection = UnsafeProjection.create(
      Array[DataType](ArrayType(child.dataType, containsNull = false)))

    override def left: Expression = child
    override def right: Expression = kExpr
    override def dataType: DataType = child.dataType
    override def nullable: Boolean = true
    override def prettyName: String = "kth_largest"

    override def createAggregationBuffer(): java.util.PriorityQueue[Any] =
      new java.util.PriorityQueue[Any](ordering)

    private def offer(heap: java.util.PriorityQueue[Any], v: Any): Unit =
      if (heap.size() < k) heap.add(v)
      else if (ordering.gt(v, heap.peek())) { heap.poll(); heap.add(v) }

    override def update(heap: java.util.PriorityQueue[Any],
                        input: InternalRow): java.util.PriorityQueue[Any] = {
      val v = child.eval(input)
      if (v != null) offer(heap, InternalRow.copyValue(v))
      heap
    }

    override def merge(heap: java.util.PriorityQueue[Any],
                       other: java.util.PriorityQueue[Any]): java.util.PriorityQueue[Any] = {
      val it = other.iterator()
      while (it.hasNext) offer(heap, it.next())
      heap
    }

    /** The heap min IS the k-th largest once k values are held. */
    override def eval(heap: java.util.PriorityQueue[Any]): Any =
      if (heap.size() < k) null else heap.peek()

    override def serialize(heap: java.util.PriorityQueue[Any]): Array[Byte] =
      bufferProjection(InternalRow(new GenericArrayData(heap.toArray))).getBytes

    override def deserialize(bytes: Array[Byte]): java.util.PriorityQueue[Any] = {
      val heap = createAggregationBuffer()
      val row = new UnsafeRow(1)
      row.pointTo(bytes, bytes.length)
      row.getArray(0).foreach(child.dataType, (_, v) => offer(heap, v))
      heap
    }

    override def withNewMutableAggBufferOffset(o: Int): KthLargest =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): KthLargest =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): KthLargest =
      copy(child = newLeft, kExpr = newRight)
  }

  /** Lexicographic extremum of a (long ord, long payload) pair — the
    * hash-aggregable replacement for `max(struct(ord, pay))` /
    * `min(struct(ord, pay))` when both legs are integral.
    *
    * Why it exists: a struct-valued min/max is a DeclarativeAggregate whose
    * buffer is the struct itself, and HashAggregateExec only admits
    * MUTABLE primitive buffer fields — so every `max(struct(cosine, id))`
    * "map-side combined" aggregate in fact plans as SortAggregate with a
    * full Sort on BOTH sides of the exchange (q106's plan showed
    * Sort→SortAggregate→Exchange→Sort→SortAggregate). This aggregate keeps
    * the identical lexicographic semantics (extremum of ord, ties broken
    * by extremum of payload; max-variant ties → max payload, min-variant
    * ties → min payload, exactly the struct ordering) but buffers TWO
    * nullable longs — flat, mutable, HashAggregate-eligible, still
    * map-side combined, and the sorts vanish.
    *
    * Contract: rows where ord or payload is NULL are ignored (the callers
    * feed non-null legs — q106 filters cosine, the dedup keepers tripwire
    * nulls); an all-null/empty group evaluates to NULL like min/max.
    * Output is a struct("ord", "pay") of the winning pair. */
  abstract class PairExtremumLong extends DeclarativeAggregate
    with BinaryLike[Expression] {
    def ord: Expression
    def payload: Expression
    /** max-variant: new beats current when strictly greater (lexicographic);
      * min-variant flips the comparisons. */
    protected def beats(newOrd: Expression, newPay: Expression,
                        curOrd: Expression, curPay: Expression): Expression

    override def left: Expression = ord
    override def right: Expression = payload
    override def dataType: DataType = StructType(Seq(
      StructField("ord", LongType), StructField("pay", LongType)))
    override def nullable: Boolean = true

    protected lazy val bOrd = AttributeReference("ord", LongType)()
    protected lazy val bPay = AttributeReference("pay", LongType)()
    override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(bOrd, bPay)
    override lazy val initialValues: Seq[Expression] = Seq(
      Literal.create(null, LongType), Literal.create(null, LongType))

    override lazy val updateExpressions: Seq[Expression] = {
      val valid = And(IsNotNull(ord), IsNotNull(payload))
      val take = And(valid, Or(IsNull(bOrd), beats(ord, payload, bOrd, bPay)))
      Seq(If(take, ord, bOrd), If(take, payload, bPay))
    }
    override lazy val mergeExpressions: Seq[Expression] = {
      val take = And(IsNotNull(bOrd.right),
        Or(IsNull(bOrd.left), beats(bOrd.right, bPay.right, bOrd.left, bPay.left)))
      Seq(If(take, bOrd.right, bOrd.left), If(take, bPay.right, bPay.left))
    }
    override lazy val evaluateExpression: Expression =
      If(IsNull(bOrd), Literal.create(null, dataType),
        CreateNamedStruct(Seq(Literal("ord"), bOrd, Literal("pay"), bPay)))
  }

  case class MaxPairLong(ord: Expression, payload: Expression)
    extends PairExtremumLong {
    override def prettyName: String = "max_pair_long"
    override protected def beats(newOrd: Expression, newPay: Expression,
                                 curOrd: Expression, curPay: Expression): Expression =
      Or(GreaterThan(newOrd, curOrd),
        And(EqualTo(newOrd, curOrd), GreaterThan(newPay, curPay)))
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): MaxPairLong =
      copy(ord = newLeft, payload = newRight)
  }

  case class MinPairLong(ord: Expression, payload: Expression)
    extends PairExtremumLong {
    override def prettyName: String = "min_pair_long"
    override protected def beats(newOrd: Expression, newPay: Expression,
                                 curOrd: Expression, curPay: Expression): Expression =
      Or(LessThan(newOrd, curOrd),
        And(EqualTo(newOrd, curOrd), LessThan(newPay, curPay)))
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): MinPairLong =
      copy(ord = newLeft, payload = newRight)
  }

  /** The ten expressions under their SQL names, each with an
    * `ExpressionInfo` naming its class: the table [[graft.GraftExtensions]]
    * injects into every session's function registry when the session is
    * built. One instance per JVM, so a cloned session's re-injection
    * re-puts the identical entry and logs no replacement WARN. */
  private[graft] val functions
      : Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = {
    def fn(name: String, cls: Class[_])(build: Seq[Expression] => Expression) =
      (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)
    Seq(
      fn("rolling_hash", classOf[RollingHash])(es => RollingHash(es.head)),
      fn("simhash64", classOf[SimHash64])(es => SimHash64(es.head)),
      fn("dot_product", classOf[DotProduct])(es => DotProduct(es(0), es(1))),
      fn("char_entropy", classOf[CharEntropy])(es => CharEntropy(es.head)),
      fn("bounded_collect_set", classOf[BoundedCollectSet])(
        es => BoundedCollectSet(es(0), es(1))),
      fn("kth_largest", classOf[KthLargest])(es => KthLargest(es(0), es(1))),
      fn("max_pair_long", classOf[MaxPairLong])(es => MaxPairLong(es(0), es(1))),
      fn("min_pair_long", classOf[MinPairLong])(es => MinPairLong(es(0), es(1))),
      fn("sign_signature", classOf[SignSignature])(
        es => SignSignature(es(0), es(1))),
      fn("vector_floor_sum", classOf[VectorFloorSum])(
        es => VectorFloorSum(es(0), es(1))))
  }

  def rollingHash(c: Column): Column = call_function("rolling_hash", c)
  def simhash64(tokens: Column): Column = call_function("simhash64", tokens)
  def dotProduct(a: Column, b: Column): Column = call_function("dot_product", a, b)
  def charEntropy(c: Column): Column = call_function("char_entropy", c)
  def boundedCollectSet(c: Column, cap: Int): Column =
    call_function("bounded_collect_set", c, lit(cap))
  def kthLargest(c: Column, k: Int): Column =
    call_function("kth_largest", c, lit(k))
  def maxPairLong(ord: Column, payload: Column): Column =
    call_function("max_pair_long", ord, payload)
  def minPairLong(ord: Column, payload: Column): Column =
    call_function("min_pair_long", ord, payload)
  def signSignature(vec: Column, planes: Column): Column =
    call_function("sign_signature", vec, planes)
  def vectorFloorSum(vec: Column, scale: Double): Column =
    call_function("vector_floor_sum", vec, lit(scale))
}

/** Per-row text statistics for the codegen'd expressions (object statics so
  * generated code calls them via static forwarders). */
object TextStats {
  /** Shannon entropy in bits of the byte-value distribution; 0.0 for the
    * empty string. Σ runs in ascending byte value — a FIXED order, so the
    * double accumulation is deterministic across engines and runs (an
    * unordered sum could flip the 6-dp rounding the oracles compare at). */
  def byteEntropy(bytes: Array[Byte]): Double = {
    val n = bytes.length
    if (n == 0) return 0.0
    val counts = new Array[Int](256)
    var i = 0
    while (i < n) { counts(bytes(i) & 0xff) += 1; i += 1 }
    var h = 0.0
    var b = 0
    while (b < 256) {
      val c = counts(b)
      if (c > 0) { val p = c.toDouble / n; h -= p * Math.log(p) }
      b += 1
    }
    h / Math.log(2.0)
  }
}

/** Deterministic, JVM-stable hash primitives (no RNG, no locale). */
object Hashing {
  private val Mod = (1L << 61) - 1
  private val Base = 1000003L

  /** Polynomial rolling hash mod 2^61−1 (multiplication via Math.multiplyHigh
    * to stay exact in 128 bits). */
  def rollingHash(bytes: Array[Byte]): Long = {
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = mulMod(h, Base)
      h = (h + (bytes(i) & 0xffL)) % Mod
      i += 1
    }
    h
  }

  private def mulMod(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    // (hi * 2^64 + lo) mod (2^61 - 1): fold 2^64 ≡ 8 (mod p) pieces.
    val lo61 = lo & Mod
    val rest = (hi << 3) | (lo >>> 61)
    val s = lo61 + rest
    if (s >= Mod) s - Mod else s
  }

  /** FNV-1a 64-bit — stable, allocation-free token hash. */
  def fnv1a64(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** 64-bit SimHash over a token ArrayData: per-token FNV-1a, per-bit ±1
    * majority. Lives here (not in the Expression) so generated code calls
    * it via the object's static forwarder. */
  def simhash64(arr: ArrayData): Long = {
    val n = arr.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = fnv1a64(arr.getUTF8String(i).getBytes)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }
}

/** Array-vector primitives for the codegen'd expressions (object statics so
  * generated code calls them via static forwarders). */
object VectorOps {
  /** Hyperplane sign signature: bit p = (v · planes[p] >= 0). Per-plane
    * dots accumulate left-to-right in double — bit-identical to the
    * unrolled Column spelling it replaces (see Expressions.SignSignature
    * for the null/short-vector contract). */
  def signSignature(vec: ArrayData, planes: ArrayData): Long = {
    val np = planes.numElements()
    var sig = 0L
    var p = 0
    while (p < np) {
      val plane = planes.getArray(p)
      val dim = plane.numElements()
      if (vec.numElements() < dim)
        throw new IllegalArgumentException(
          s"sign_signature: vector length ${vec.numElements()} < plane dimension $dim")
      var d = 0
      while (d < dim) {
        // A null element made every plane's when(dot >= 0) false in the
        // Column form — signature 0 overall.
        if (vec.isNullAt(d)) return 0L
        d += 1
      }
      var dot = 0.0
      d = 0
      while (d < dim) { dot += vec.getDouble(d) * plane.getDouble(d); d += 1 }
      if (dot >= 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /** Left-to-right Σ a_i·b_i in double — bit-identical to the
    * aggregate(zip_with) fold it replaces. */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"dot_product: length mismatch ($n vs ${b.numElements()})")
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i))
        throw new IllegalArgumentException(
          s"dot_product: null vector element at index $i")
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }
}
