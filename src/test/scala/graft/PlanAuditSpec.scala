package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.{AuditInventory, PlanAudit}

/** PlanAudit fires on the shapes it names, stays quiet on the shapes it
  * can statically prove bounded, and — the regression gate — every
  * non-streaming plan in the inventory audits clean against the
  * declared exception list in [[AuditInventory]]. */
class PlanAuditSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("flags a cartesian product as Error") {
    val a = Seq(1, 2, 3).toDF("x")
    val b = Seq(4, 5).toDF("y")
    val f = PlanAudit.audit(a.crossJoin(b))
    assert(f.exists(x => x.rule == "cartesian" || x.rule == "bnl_join"),
      f.toString)
    // and allow() suppresses it (the declared-baseline escape hatch)
    assert(PlanAudit.audit(a.crossJoin(b),
      allow = Set("cartesian", "bnl_join")).isEmpty)
  }

  test("flags an unpartitioned window as Warn") {
    val df = spark.range(100).toDF("id")
      .select(col("id"), sum(col("id")).over(
        Window.orderBy("id")
          .rowsBetween(Window.unboundedPreceding, 0)).as("cs"))
    val f = PlanAudit.audit(df)
    assert(f.exists(_.rule == "global_window"), f.toString)
  }

  test("flags an unpartitioned sliding window as Warn") {
    val df = spark.range(100).toDF("id")
      .select(col("id"), sum(col("id")).over(
        Window.orderBy("id").rowsBetween(-3, 0)).as("s"))
    assert(df.queryExecution.executedPlan.toString
      .contains("SlidingWindow"), df.queryExecution.executedPlan.toString)
    val f = PlanAudit.audit(df)
    assert(f.exists(_.rule == "global_window"), f.toString)
  }

  test("a partitioned window raises no global_window finding") {
    val df = spark.range(100)
      .select(col("id"), pmod(col("id"), lit(7)).as("k"))
      .select(col("id"), sum(col("id")).over(
        Window.partitionBy("k").orderBy("id")
          .rowsBetween(Window.unboundedPreceding, 0)).as("cs"))
    assert(!PlanAudit.audit(df).exists(_.rule == "global_window"))
  }

  test("GlobalWindow output draws no global_window finding") {
    // the segmented scan plans no partitionless window at all, so no
    // rewritten key needs an allow() that could mask a regression back
    // to a data-sized global window
    val df = spark.range(1000).toDF("v")
      .select(col("v").cast("double").as("v"), col("v").as("k"))
    val rewritten = graft.operators.GlobalWindow.cumSum(
      df, Seq(col("k")), "v", "cs")
    val f = PlanAudit.audit(rewritten)
    assert(!f.exists(_.rule.startsWith("global_window")), f.toString)
  }

  test("a 1-row-aggregate broadcast side downgrades bnl_join to Info") {
    val data = spark.range(100).toDF("v")
    val scalar = data.agg(avg(col("v")).as("m"))
    val joined = data.crossJoin(broadcast(scalar))
      .select(col("v"), (col("v") - col("m")).as("centered"))
    val f = PlanAudit.audit(joined)
    assert(f.exists(_.rule == "bnl_scalar") &&
      !f.exists(_.rule == "bnl_join"), f.toString)
    // a broadcast of a REAL table (no 1-row proof) keeps the Warn
    val g = PlanAudit.audit(
      data.crossJoin(broadcast(spark.range(50).toDF("w"))))
    assert(g.exists(x => x.rule == "bnl_join" || x.rule == "cartesian"),
      g.toString)
  }

  test("unpushed_filter is node-local: an unrelated Filter does not " +
      "pair with a predicate-free scan") {
    // branch A: scan with NO pushable predicate (no filter above it);
    // branch B: in-memory frame with a Filter. The old plan-wide string
    // match produced a false finding on the union; the node-local rule
    // must not.
    val a = spark.read.parquet(s"$dir/region.parquet")
      .select(col("r_regionkey").as("k"))
    val b = spark.range(100).toDF("k").filter(col("k") > 10)
      .select(col("k").cast("int").as("k"))
    assert(!PlanAudit.audit(a.unionAll(b))
      .exists(_.rule == "unpushed_filter"))
    // and it still fires when the Filter's OWN scan lost the pushdown
    // (coalesce blocks it AND implies no residual IsNotNull to push,
    // so the scan's PushedFilters really is empty)
    val blocked = spark.read.parquet(s"$dir/region.parquet")
      .filter(coalesce(col("r_name"), lit("x")) === "x")
    val f = PlanAudit.audit(blocked)
    assert(f.exists(_.rule == "unpushed_filter"), f.toString)
  }

  test("unpushed_filter does not cross a join: a post-join predicate " +
      "cannot pair with a predicate-free scan on one join side") {
    // LEFT join keeps the preserved-side scan predicate-free (no
    // IsNotNull is pushed to the outer side), and the null-TOLERANT
    // post-join predicate on the right column cannot legally move
    // below the join — so a Filter really does sit above a join whose
    // left scan reports PushedFilters: []. The round-9 subtree rule
    // flagged this shape; the unary-chain rule must not.
    val left = spark.read.parquet(s"$dir/region.parquet")
      .select(col("r_regionkey").as("k"))
    val right = spark.range(5).toDF("k2")
    val j = left.join(right, col("k") === col("k2").cast("int"), "left")
      .filter(coalesce(col("k2"), lit(0L)) >= 0L)
    assert(!PlanAudit.audit(j).exists(_.rule == "unpushed_filter"),
      PlanAudit.audit(j).toString)
  }

  test("full inventory: every non-streaming plan audits clean of " +
      "undeclared Warn/Error findings") {
    val keys = AuditInventory.sweepKeys
    // exact identity: sweep = all keys minus the explicit streaming
    // registry, so count drift (a new key, a registry change) is loud
    val expected = SparkEntry.queries.size -
      graft.queries.TimeSeriesQueries.streamingKeys.size
    assert(keys.size == expected,
      s"sweep ${keys.size} != queries-minus-streaming $expected")
    val bad = keys.flatMap { k =>
      val allowed = AuditInventory.declaredAllows.getOrElse(k, Set.empty)
      val gating = PlanAudit.audit(SparkEntry.queries(k)(spark, dir),
          allow = allowed)
        .filter(_.severity != PlanAudit.Info)
      if (gating.isEmpty) Nil else Seq(k -> gating)
    }
    assert(bad.isEmpty, bad.map { case (k, f) =>
      s"$k: ${f.map(x => s"${x.rule}/${x.severity}").mkString(",")}"
    }.mkString("; "))
  }

  test("the gate actually gates: a deliberately-degraded plan fails " +
      "the same assertion") {
    // dedup_jaccard-shaped join WITHOUT its candidate filter: joining
    // docs to docs on a non-equi condition is the cartesian the real
    // key's prefix filter exists to avoid
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), length(col("text")).as("n")).limit(20)
    val broken = d.as("a").join(d.as("b"),
      col("a.n") <= col("b.n") && col("a.doc_id") =!= col("b.doc_id"))
    val gating = PlanAudit.audit(broken)
      .filter(_.severity != PlanAudit.Info)
    assert(gating.nonEmpty, "degraded plan should raise a gating finding")
  }
}
