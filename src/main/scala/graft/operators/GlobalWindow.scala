package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Scalable global and few-hot-groups running aggregates.
  *
  * `Window.orderBy(...)` with no `partitionBy` is semantically what the
  * reference's path-2 frames mean (SURVEY.md §2.1 path 2), but Spark
  * executes it on a SINGLE partition — the documented 100 TB bottleneck
  * (SURVEY.md §4.2). Grouped running aggregates over a low-cardinality
  * key hit the same wall: `Window.partitionBy(flag)` caps at G tasks.
  *
  * Every entry point builds one logical node, [[RunningAggregate]], that
  * a planner strategy turns into [[RunningAggregateExec]] — a segmented
  * scan (Blelloch, "Prefix Sums and Their Applications", 1990) over
  * Spark's own range exchange:
  *
  *   - the exec requires its child range-partitioned and sorted on
  *     (group keys asc nulls first, order keys), so `EnsureRequirements`
  *     plans the range exchange and its bounds are sampled while the
  *     action runs — building the DataFrame starts no Spark job;
  *   - pass 1 reads each sorted partition for the running state of its
  *     first and last group runs (≤ 2 summary rows per partition); only
  *     those runs can continue across a partition boundary, so the
  *     driver folds them into one carry per partition;
  *   - pass 2 re-reads the same partitions, seeds the first group run
  *     with its carry and sweeps. Both passes read ONE shuffle, so the
  *     upstream plan runs once — no checkpoint, no literal bounds, no
  *     offsets join. Partition identity is the RDD's own partition index.
  *
  * Semantics are `Window.partitionBy(by).orderBy(order)
  * .rowsBetween(unboundedPreceding, currentRow)`: NULL until the first
  * non-null value (Count starts at 0), a NULL group is one group, and
  * key directions and null orderings come from the resolved sort order.
  * With a total order (callers include a tiebreaker, as for any
  * deterministic window) the result equals the plain window exactly for
  * integer-valued data and within float ulps otherwise (the carry
  * reassociates the adds).
  */
object GlobalWindow {

  /** The prefix-decomposable running aggregates: a partition's running
    * value ⊕ the carry folded from the preceding partitions. Sum, Count,
    * Min and Max are the associative kernels; Avg rides on Sum+Count. */
  sealed trait RunningAgg
  object RunningAgg {
    /** Running sum in double. */
    case object Sum extends RunningAgg
    /** Long-exact sum: [[Sum]] accumulates in double, so integral
      * magnitudes past 2^53 silently lose exactness. This kernel keeps
      * the value in int64 end to end (`Math.addExact`, so a genuine
      * overflow is a loud error instead of a wrong answer). For the
      * distinct-sum carriers of [[graft.operators.RollingDistinct]].
      * `valueCol` must be integral (or null). */
    case object SumLong extends RunningAgg
    case object Count extends RunningAgg
    /** Running minimum of any orderable type. */
    case object Min extends RunningAgg
    /** Running maximum of any orderable type. */
    case object Max extends RunningAgg
    /** Running mean in double. */
    case object Avg extends RunningAgg
  }

  /** Global cumulative sum of `valueCol` (cast to double) in the total
    * order of `orderBy`, appended as `outCol`. */
  def cumSum(df: DataFrame, orderBy: Seq[Column], valueCol: String,
      outCol: String): DataFrame =
    groupedCumSum(df, Nil, orderBy, valueCol, outCol)

  /** Ungrouped [[groupedCumSumLong]]. */
  def cumSumLong(df: DataFrame, orderBy: Seq[Column], valueCol: String,
      outCol: String): DataFrame =
    groupedCumSumLong(df, Nil, orderBy, valueCol, outCol)

  /** Grouped running sum for FEW-HOT-GROUPS data: the range exchange
    * splits each group over as many partitions as its rows fill, so
    * parallelism follows the data instead of the G-task cap of
    * `Window.partitionBy(group)`. */
  def groupedCumSum(df: DataFrame, by: Seq[String], orderBy: Seq[Column],
      valueCol: String, outCol: String): DataFrame =
    groupedCumAgg(df, by, orderBy, valueCol, outCol, RunningAgg.Sum)

  /** The LONG-EXACT sibling of [[groupedCumSum]]: the running value
    * never leaves int64, so magnitudes past 2^53 stay exact and a
    * genuine overflow is a loud error. */
  def groupedCumSumLong(df: DataFrame, by: Seq[String],
      orderBy: Seq[Column], valueCol: String, outCol: String): DataFrame =
    groupedCumAgg(df, by, orderBy, valueCol, outCol, RunningAgg.SumLong)

  /** Generalized scalable running aggregate (sum/count/min/max/avg). */
  def groupedCumAgg(df: DataFrame, by: Seq[String], orderBy: Seq[Column],
      valueCol: String, outCol: String, agg: RunningAgg): DataFrame =
    running(df, by, orderBy, Seq((agg, valueCol, outCol)))

  /** MULTI-PAYLOAD sibling of [[groupedCumSumLong]]: N independent
    * running Long sums in the SAME total order share one exchange and
    * one sweep. Each payload gates on its OWN non-null count, so the
    * result equals N sequential [[groupedCumSumLong]] calls exactly. */
  def groupedCumSumsLong(df: DataFrame, by: Seq[String],
      orderBy: Seq[Column], payloads: Seq[(String, String)]): DataFrame = {
    require(payloads.nonEmpty, "groupedCumSumsLong needs >= 1 payload")
    running(df, by, orderBy,
      payloads.map { case (in, out) => (RunningAgg.SumLong, in, out) })
  }

  /** Make `session`'s planner know [[RunningAggregate]]. Idempotent. */
  private[graft] def setup(session: SparkSession): Unit = {
    val ex = session.experimental
    ex.synchronized {
      if (!ex.extraStrategies.contains(RunningAggregateStrategy))
        ex.extraStrategies = RunningAggregateStrategy +: ex.extraStrategies
    }
  }

  /** Resolve the keys and payloads through the analyzer, plan one
    * [[RunningAggregate]] over `df`, and land each `(kind, in, out)`
    * payload as `out` — replacing a same-named column in place, else
    * appended, as `withColumn` would. */
  private def running(df: DataFrame, by: Seq[String], orderBy: Seq[Column],
      payloads: Seq[(RunningAgg, String, String)]): DataFrame = {
    import RunningAgg._
    require(orderBy.nonEmpty, "a running aggregate needs an order")
    val session = df.sparkSession
    setup(session)
    val values = payloads.map {
      case (Sum | Avg, in, _) => col(in).cast(DoubleType)
      case (SumLong, in, _)   => col(in).cast(LongType)
      case (_, in, _)         => col(in)
    }
    val (keys, exprs, child) =
      df.sort(by.map(col) ++ orderBy: _*).select(values: _*)
        .queryExecution.analyzed match {
        case Project(vs, Sort(ks, _, c, _)) =>
          (ks, vs.map { case Alias(e, _) => e; case e => e }, c)
        case other => throw new IllegalArgumentException(
          s"running aggregate keys must be columns of the input:\n$other")
      }
    val outs = payloads.zip(exprs).map { case ((agg, _, out), e) =>
      AttributeReference(out, if (agg == Count) LongType else e.dataType,
        nullable = agg != Count)()
    }
    val node = RunningAggregate(keys.take(by.size).map(_.child),
      keys.drop(by.size), payloads.map(_._1), exprs, outs, child)
    val same = session.sessionState.conf.resolver
    def outFor(name: String) = outs.reverse.find(o => same(o.name, name))
    ColumnShim.ofRows(session, node).select(
      child.output.map(a => outFor(a.name)
        .fold(ColumnShim.column(a))(o => ColumnShim.column(o).as(a.name))) ++
      outs.filterNot(o => child.output.exists(a => same(a.name, o.name)))
        .map(o => ColumnShim.column(o).as(o.name)): _*)
  }

  /** `child` plus one running aggregate per payload: `kinds(i)` of
    * `payloads(i)` over the rows of each `by` group in `order`, landed
    * as `outs(i)`. */
  private[graft] case class RunningAggregate(by: Seq[Expression],
      order: Seq[SortOrder], kinds: Seq[RunningAgg],
      payloads: Seq[Expression], outs: Seq[Attribute], child: LogicalPlan)
      extends UnaryNode {
    override def output: Seq[Attribute] = child.output ++ outs
    override def producedAttributes: AttributeSet = AttributeSet(outs)
    override protected def withNewChildInternal(c: LogicalPlan)
        : RunningAggregate = copy(child = c)
  }

  private[graft] object RunningAggregateStrategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case RunningAggregate(by, order, kinds, payloads, outs, child) =>
        RunningAggregateExec(by, order, kinds, payloads, outs,
          planLater(child)) :: Nil
      case _ => Nil
    }
  }

  /** The segmented scan of [[RunningAggregate]] (see the object doc). */
  private[graft] case class RunningAggregateExec(by: Seq[Expression],
      order: Seq[SortOrder], kinds: Seq[RunningAgg],
      payloads: Seq[Expression], outs: Seq[Attribute], child: SparkPlan)
      extends UnaryExecNode {
    private def keys: Seq[SortOrder] =
      by.map(SortOrder(_, Ascending)) ++ order
    override def output: Seq[Attribute] = child.output ++ outs
    override def producedAttributes: AttributeSet = AttributeSet(outs)
    override def requiredChildDistribution: Seq[Distribution] =
      OrderedDistribution(keys) :: Nil
    override def requiredChildOrdering: Seq[Seq[SortOrder]] = keys :: Nil
    override def outputPartitioning: Partitioning = child.outputPartitioning
    override def outputOrdering: Seq[SortOrder] = child.outputOrdering
    override protected def withNewChildInternal(c: SparkPlan)
        : RunningAggregateExec = copy(child = c)

    override protected def doExecute(): RDD[InternalRow] = {
      val scan = new Scan(child.output, by, kinds, payloads)
      val rows = child.execute()
      val carries = carry(rows.sparkContext.runJob(rows, scan.summarize _))
      rows.mapPartitionsWithIndex((i, it) => scan.sweep(it, carries(i)))
    }
  }

  /** A group run: its key and the running state of its rows. */
  private final case class Run(key: UnsafeRow, state: RunState)

  /** The carry into each partition: the running state, at the end of
    * the partitions before it, of the group they ended in (null before
    * the first row). A partition holding a single run extends a carry of
    * the same group; one holding several starts its last run afresh. */
  private def carry(summaries: Array[Seq[Run]]): Array[Run] = {
    var c: Run = null
    summaries.map { runs =>
      val in = c
      runs match {
        case Seq(only) if in != null && in.key == only.key =>
          only.state.merge(in.state)
          c = only
        case Seq() =>
        case rs => c = rs.last
      }
      in
    }
  }

  /** Both passes over one sorted partition, shipped to the tasks; the
    * projections are generated per task. */
  private final class Scan(input: Seq[Attribute], by: Seq[Expression],
      kinds: Seq[RunningAgg], payloads: Seq[Expression]) extends Serializable {
    private val types = payloads.map(_.dataType).toArray
    private def newState = new RunState(kinds.toArray, types)

    /** Pass 1: the partition's first group run and, if it holds more
      * than one, its last. */
    def summarize(it: Iterator[InternalRow]): Seq[Run] = {
      val keyOf = UnsafeProjection.create(by, input)
      val valuesOf = UnsafeProjection.create(payloads, input)
      var first: Run = null
      var cur: Run = null
      it.foreach { row =>
        val k = keyOf(row)
        if (cur == null || k != cur.key) {
          if (first == null) first = cur
          cur = Run(k.copy(), newState)
        }
        cur.state.update(valuesOf(row))
      }
      Option(first).toSeq ++ Option(cur).toSeq
    }

    /** Pass 2: every row with its running values appended; the first
      * run starts from `carry` when it continues the carried group. */
    def sweep(it: Iterator[InternalRow], carry: Run): Iterator[InternalRow] = {
      val keyOf = UnsafeProjection.create(by, input)
      val valuesOf = UnsafeProjection.create(payloads, input)
      val toUnsafe = UnsafeProjection.create((input.map(_.dataType) ++
        kinds.zip(types).map {
          case (RunningAgg.Count, _) => LongType
          case (_, t)                => t
        }).toArray)
      val state = newState
      val results = new GenericInternalRow(kinds.size)
      val joined = new JoinedRow
      var cur: UnsafeRow = null
      it.map { row =>
        val k = keyOf(row)
        if (cur == null || k != cur) {
          state.clear()
          if (cur == null && carry != null && carry.key == k)
            state.merge(carry.state)
          cur = k.copy()
        }
        state.update(valuesOf(row))
        kinds.indices.foreach(i => results.update(i, state.result(i)))
        toUnsafe(joined(row, results))
      }
    }
  }

  /** Per payload: the non-null count and the folded value (null until
    * the first non-null value; Count keeps only the count). */
  private final class RunState(kinds: Array[RunningAgg],
      types: Array[DataType]) extends Serializable {
    import RunningAgg._
    private val n = new Array[Long](kinds.length)
    private val v = new Array[Any](kinds.length)
    @transient private lazy val ordering = kinds.zip(types).map {
      case (Min | Max, t) => TypeUtils.getInterpretedOrdering(t)
      case _              => null
    }

    def clear(): Unit = {
      java.util.Arrays.fill(n, 0L)
      java.util.Arrays.fill(v.asInstanceOf[Array[AnyRef]], null)
    }

    def update(values: InternalRow): Unit = kinds.indices.foreach { i =>
      if (!values.isNullAt(i)) {
        n(i) += 1
        fold(i, values.get(i, types(i)))
      }
    }

    def merge(o: RunState): Unit = kinds.indices.foreach { i =>
      n(i) += o.n(i)
      if (o.v(i) != null) fold(i, o.v(i))
    }

    private def fold(i: Int, x: Any): Unit = kinds(i) match {
      case Count =>
      case _ if v(i) == null => v(i) = InternalRow.copyValue(x)
      case Sum | Avg =>
        v(i) = v(i).asInstanceOf[Double] + x.asInstanceOf[Double]
      case SumLong =>
        v(i) = Math.addExact(v(i).asInstanceOf[Long], x.asInstanceOf[Long])
      case Min => if (ordering(i).lt(x, v(i))) v(i) = InternalRow.copyValue(x)
      case Max => if (ordering(i).gt(x, v(i))) v(i) = InternalRow.copyValue(x)
    }

    def result(i: Int): Any = kinds(i) match {
      case Count => n(i)
      case Avg if n(i) > 0 => v(i).asInstanceOf[Double] / n(i)
      case _ => v(i)
    }
  }
}
