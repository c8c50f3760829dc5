package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.MathUtils
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types._

/** Bounded ROWS frames by retraction.
  *
  * Spark's `SlidingWindowFunctionFrame` re-aggregates the whole frame
  * buffer for every output row, O(w) per row. For the aggregates that
  * have an inverse or a monotonic-deque form, a sliding frame moves in
  * O(1) per row instead: subtract the row that leaves, add the row that
  * enters (Tangwongsan et al., "General Incremental Sliding-Window
  * Aggregation", VLDB 2015; Leis et al., "Efficient Processing of Window
  * Functions in Analytical SQL Queries", VLDB 2015).
  *
  * [[SlidingWindowStrategy]] (installed by `graft.GraftExtensions`)
  * plans [[SlidingWindowExec]] in place of `WindowExec` for a logical
  * `Window` node whose EVERY expression is one of
  *   - `sum` over byte/short/int/long, ANSI or LEGACY eval mode;
  *   - single-argument `count`;
  *   - `min` / `max` over byte/short/int/long;
  * each over `ROWS BETWEEN lo AND hi` with both ends finite integer
  * offsets (or CURRENT ROW), on either side of the current row. Frames
  * may differ between the expressions of one node. Any other expression
  * in the node (a double sum, avg, lag, a RANGE frame, an unbounded end,
  * DISTINCT, FILTER, try_sum) leaves the whole node on `WindowExec`.
  *
  * The exec keeps `WindowExec`'s contract: the child clustered on the
  * partition spec (all tuples without one) and sorted on partition spec
  * ++ order spec, output `child.output ++` the window attributes, rows
  * in input order, the child's partitioning and ordering preserved.
  *
  * Overflow: `sum` keeps an int64 window sum, subtracting the leaving
  * value before adding the entering one (`MathUtils.*Exact` under ANSI,
  * wrapping under LEGACY). Every intermediate value is then the sum of a
  * prefix of some row's frame, or of the whole frame — values
  * `WindowExec` also forms when it re-adds that frame from its first row.
  * So under ANSI the kernel raises only where `WindowExec` raises, and
  * wherever `WindowExec` does not raise the outputs are equal. Under
  * LEGACY both wrap modulo 2^64 and agree everywhere.
  *
  * Memory: each expression keeps a ring of the values its window still
  * needs, and the node holds back the rows of its lookahead (the largest
  * following offset). The rings start small and double when the live
  * rows outgrow them, so they follow min(frame width, group size): a
  * `ROWS BETWEEN 1000000000 PRECEDING AND CURRENT ROW` frame over
  * ten-row groups keeps ten-row rings. `WindowExec` buffers each whole
  * group and can spill it; these rings stay in memory, as JVM arrays of
  * at most 2^30 slots.
  */
object SlidingWindow {

  /** The retractable aggregates. */
  private sealed trait Kind
  private final case class SumOf(ansi: Boolean) extends Kind
  private case object CountOf extends Kind
  private case object MinOf extends Kind
  private case object MaxOf extends Kind

  /** One window expression: `kind` of `input` over rows `[i+lo, i+hi]`. */
  private final case class Agg(kind: Kind, input: Expression, lo: Int,
      hi: Int)

  private def integral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  private def asLong(e: Expression): Expression =
    if (e.dataType == LongType) e else Cast(e, LongType)

  private def offset(b: Expression): Option[Int] = b match {
    case CurrentRow => Some(0)
    case e if e.foldable && e.dataType == IntegerType =>
      Option(e.eval()).map(_.asInstanceOf[Int])
    case _ => None
  }

  private def agg(e: NamedExpression): Option[Agg] = e match {
    case Alias(WindowExpression(AggregateExpression(f, Complete, false,
        None, _), WindowSpecDefinition(_, _,
        SpecifiedWindowFrame(RowFrame, lower, upper))), _) =>
      val kind = f match {
        case Sum(c, ctx) if integral(c.dataType) &&
            ctx.evalMode != EvalMode.TRY =>
          Some(SumOf(ctx.evalMode == EvalMode.ANSI))
        case Count(Seq(_)) => Some(CountOf)
        case Min(c) if integral(c.dataType) => Some(MinOf)
        case Max(c) if integral(c.dataType) => Some(MaxOf)
        case _ => None
      }
      for (k <- kind; lo <- offset(lower); hi <- offset(upper) if lo <= hi)
        yield Agg(k, f.children.head, lo, hi)
    case _ => None
  }

  /** The node's aggregates when every window expression is supported. */
  private def aggs(exprs: Seq[NamedExpression]): Option[Seq[Agg]] = {
    val all = exprs.map(agg)
    if (all.nonEmpty && all.forall(_.isDefined)) Some(all.flatten) else None
  }

  /** True when every window expression of a node has a retracting
    * kernel, so the node plans [[SlidingWindowExec]]. */
  private[graft] def supported(exprs: Seq[NamedExpression]): Boolean =
    aggs(exprs).isDefined

  /** Plans [[SlidingWindowExec]] for a fully supported `Window` node. */
  object SlidingWindowStrategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case Window(exprs, partitionSpec, orderSpec, child, _)
          if supported(exprs) =>
        SlidingWindowExec(exprs, partitionSpec, orderSpec,
          planLater(child)) :: Nil
      case _ => Nil
    }
  }

  /** `WindowExec` for bounded ROWS frames, one O(1) step per row (see the
    * object doc). */
  case class SlidingWindowExec(windowExpression: Seq[NamedExpression],
      partitionSpec: Seq[Expression], orderSpec: Seq[SortOrder],
      child: SparkPlan) extends UnaryExecNode {
    override def output: Seq[Attribute] =
      child.output ++ windowExpression.map(_.toAttribute)
    override def producedAttributes: AttributeSet =
      AttributeSet(windowExpression.map(_.toAttribute))
    override def requiredChildDistribution: Seq[Distribution] =
      if (partitionSpec.isEmpty) AllTuples :: Nil
      else ClusteredDistribution(partitionSpec) :: Nil
    override def requiredChildOrdering: Seq[Seq[SortOrder]] =
      Seq(partitionSpec.map(SortOrder(_, Ascending)) ++ orderSpec)
    override def outputPartitioning: Partitioning = child.outputPartitioning
    override def outputOrdering: Seq[SortOrder] = child.outputOrdering
    override protected def withNewChildInternal(c: SparkPlan)
        : SlidingWindowExec = copy(child = c)

    override protected def doExecute(): RDD[InternalRow] = {
      val frames = aggs(windowExpression).getOrElse(throw
        new IllegalStateException(s"unsupported window: $windowExpression"))
      val input = child.output
      val keys = partitionSpec
      val outs = windowExpression.map(_.toAttribute)
      child.execute().mapPartitions(it =>
        new Slider(it, input, keys, frames, outs))
    }
  }

  /** One aggregate's window over the rows `[a, b)` of the current group:
    * a ring of the values the window still needs, the non-null count,
    * and the running sum or the monotonic deque of min/max candidates. */
  private final class Lane(kind: Kind, lo: Int, hi: Int) {
    // row j's value sits in slot j & mask from its arrival until the
    // window leaves it; put doubles the rings when the live rows
    // [a, newest] outgrow them
    private var mask = 7
    private var vals = new Array[Long](mask + 1)
    private var nulls = new Array[Boolean](mask + 1)
    private val isSum = kind.isInstanceOf[SumOf]
    private val ansi = kind == SumOf(true)
    private val isMin = kind == MinOf
    // deque positions [head, tail) hold row indices; at most b - a
    private var deque = if (kind == MinOf || kind == MaxOf)
      new Array[Long](mask + 1) else null
    private var a, b, head, tail, count, sum = 0L

    def reset(): Unit = { a = 0; b = 0; head = 0; tail = 0; count = 0; sum = 0 }

    def put(j: Long, row: InternalRow, k: Int): Unit = {
      if (j - a > mask) grow(j)
      val s = (j & mask).toInt
      nulls(s) = row.isNullAt(k)
      if (!nulls(s)) vals(s) = row.getLong(k)
    }

    /** Re-slot rows `[a, j)` and the deque into rings that fit `[a, j]`. */
    private def grow(j: Long): Unit = {
      var m = mask
      while (j - a > m) m = m * 2 + 1
      val v = new Array[Long](m + 1)
      val nl = new Array[Boolean](m + 1)
      var r = a
      while (r < j) {
        v((r & m).toInt) = vals((r & mask).toInt)
        nl((r & m).toInt) = nulls((r & mask).toInt)
        r += 1
      }
      if (deque != null) {
        val d = new Array[Long](m + 1)
        var p = head
        while (p < tail) { d((p & m).toInt) = deque((p & mask).toInt); p += 1 }
        deque = d
      }
      vals = v; nulls = nl; mask = m
    }

    /** Move the window to row `i`'s frame in a group of `n` rows seen. */
    def move(i: Long, n: Long): Unit = {
      val a1 = math.max(0L, i + lo)
      val b1 = math.min(i + hi + 1, n)
      while (a < a1 && a < b) { leave(a); a += 1 }
      if (a < a1) a = a1
      if (b < a) b = a
      while (b < b1) { enter(b); b += 1 }
    }

    // the wrapped result; on overflow under ANSI, MathUtils raises
    // Spark's own ARITHMETIC_OVERFLOW error
    private def leave(j: Long): Unit = {
      val s = (j & mask).toInt
      if (!nulls(s)) {
        count -= 1
        val v = vals(s)
        if (isSum) {
          val r = sum - v
          if (ansi && ((sum ^ v) & (sum ^ r)) < 0)
            MathUtils.subtractExact(sum, v)
          sum = r
        } else if (deque != null) {
          if (head < tail && deque((head & mask).toInt) == j) head += 1
        }
      }
    }

    private def enter(j: Long): Unit = {
      val s = (j & mask).toInt
      if (!nulls(s)) {
        count += 1
        val v = vals(s)
        if (isSum) {
          val r = sum + v
          if (ansi && ((sum ^ r) & (v ^ r)) < 0) MathUtils.addExact(sum, v)
          sum = r
        } else if (deque != null) {
          while (head < tail && {
            val w = vals((deque(((tail - 1) & mask).toInt) & mask).toInt)
            if (isMin) w >= v else w <= v
          }) tail -= 1
          deque((tail & mask).toInt) = j
          tail += 1
        }
      }
    }

    def write(out: InternalRow, k: Int): Unit =
      if (kind == CountOf) out.setLong(k, count)
      else if (isSum) {
        if (count == 0) out.setNullAt(k) else out.setLong(k, sum)
      } else if (head == tail) out.setNullAt(k)
      else out.setLong(k, vals((deque((head & mask).toInt) & mask).toInt))
  }

  /** The per-partition stream: rows are read in order, a group boundary
    * falls wherever the partition key changes, and row `i` is emitted as
    * soon as row `i + lookahead` has arrived (the rest at group end). */
  private final class Slider(input: Iterator[InternalRow],
      attrs: Seq[Attribute], keys: Seq[Expression], frames: Seq[Agg],
      outs: Seq[Attribute]) extends Iterator[InternalRow] {
    private val lookahead = frames.map(f => math.max(f.hi, 0)).max
    private val lanes = frames.map(f => new Lane(f.kind, f.lo, f.hi)).toArray
    private val keyOf = UnsafeProjection.create(keys, attrs)
    // every lane input as a nullable long; count only needs its nulls
    private val valuesOf = UnsafeProjection.create(frames.map { f =>
      f.kind match {
        case CountOf => If(IsNull(f.input), Literal(null, LongType),
          Literal(0L))
        case _ => asLong(f.input)
      }
    }, attrs)
    private val results = new SpecificInternalRow(frames.map(_ => LongType))
    private val joined = new JoinedRow
    private val project = UnsafeProjection.create(
      attrs.zipWithIndex.map { case (a, k) =>
        BoundReference(k, a.dataType, a.nullable)
      } ++ outs.zipWithIndex.map { case (o, k) =>
        val r = BoundReference(attrs.size + k, LongType, o.nullable)
        if (o.dataType == LongType) r else Cast(r, o.dataType)
      })
    private val toUnsafe = UnsafeProjection.create(attrs.map(_.dataType).toArray)
    // rows [emitted, seen) held back for the lookahead, row j in slot
    // j & heldMask; doubled like the lane rings when they outgrow it
    private var held = new Array[UnsafeRow](8)
    private var heldMask = 7

    private var group: UnsafeRow = null
    private var newest: InternalRow = null
    private var pending: UnsafeRow = null
    private var pendingKey: UnsafeRow = null
    private var seen, emitted = 0L
    private var ended = false

    private def ready: Boolean =
      emitted < seen && (ended || emitted + lookahead < seen)

    override def hasNext: Boolean = ready || fill()

    private def fill(): Boolean = {
      while (!ready) {
        if (ended) {
          if (pending == null) return false
          begin(pendingKey, pending)
          pending = null
        } else if (input.hasNext) {
          val row = input.next()
          val k = keyOf(row)
          if (group == null) begin(k.copy(), row)
          else if (k != group) {
            ended = true
            pendingKey = k.copy()
            pending = unsafe(row).copy()
          } else push(row)
        } else ended = true
      }
      true
    }

    private def unsafe(row: InternalRow): UnsafeRow = row match {
      case u: UnsafeRow => u
      case r => toUnsafe(r)
    }

    private def begin(key: UnsafeRow, row: InternalRow): Unit = {
      group = key
      seen = 0; emitted = 0; ended = false
      lanes.foreach(_.reset())
      push(row)
    }

    private def push(row: InternalRow): Unit = {
      val v = valuesOf(row)
      var k = 0
      while (k < lanes.length) { lanes(k).put(seen, v, k); k += 1 }
      if (lookahead > 0) hold(unsafe(row)) else newest = row
      seen += 1
    }

    private def hold(row: UnsafeRow): Unit = {
      if (seen - emitted > heldMask) {
        var m = heldMask
        while (seen - emitted > m) m = m * 2 + 1
        val h = new Array[UnsafeRow](m + 1)
        var j = emitted
        while (j < seen) { h((j & m).toInt) = held((j & heldMask).toInt); j += 1 }
        held = h; heldMask = m
      }
      val s = (seen & heldMask).toInt
      if (held(s) == null) {
        held(s) = new UnsafeRow(attrs.size)
        held(s).pointTo(new Array[Byte](64), 64)
      }
      held(s).copyFrom(row)
    }

    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException
      val i = emitted
      emitted += 1
      var k = 0
      while (k < lanes.length) {
        lanes(k).move(i, seen)
        lanes(k).write(results, k)
        k += 1
      }
      val row = if (lookahead > 0) held((i & heldMask).toInt) else newest
      project(joined(row, results))
    }
  }
}
