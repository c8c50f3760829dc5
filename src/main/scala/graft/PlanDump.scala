package graft

import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Round-deliverable plan dumper: writes `<outDir>/<key>_<suffix>.txt`
  * with the formatted physical plan of each named key — the
  * before/after evidence files the optimization rounds commit under
  * `plans/rNN/`. Runs on `LocalSession(4)`, as graft.Plans does, so
  * shapes match the committed ledger and the r17 dumps.
  *
  * usage: runMain graft.PlanDump <outDir> <suffix> <key>[,key...] [sfDir]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println(
        "usage: runMain graft.PlanDump <outDir> <suffix> <key,key,...> [sfDir]")
      sys.exit(2)
    }
    val outDir = args(0); val suffix = args(1)
    val keys = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = args.lift(3).getOrElse("/root/testdata/sf0.001")
    val unknown = keys.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown keys: ${unknown.mkString(",")}")
      sys.exit(2)
    }
    val spark = LocalSession(4)
    Files.createDirectories(Paths.get(outDir))
    keys.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        ExplainMode.fromString("formatted"))
      val hdr = s"# $name — explain(formatted), $suffix " +
        s"(graft.PlanDump at $sfDir, local[4])\n"
      Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"),
        hdr + plan)
      println(s"[plandump] $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
