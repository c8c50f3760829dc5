package graft

import java.nio.file.{Files, Paths}

/** Regenerates PLAN_FINGERPRINTS.json — the committed plan-shape ledger
  * PlanFingerprintSpec gates on (see [[graft.plans.PlanFingerprint]]).
  * Run after an INTENTIONAL plan change; the diff is the review
  * artifact. Runs on the same `LocalSession(4)` as SparkTestSession so
  * the spec recomputes identical shapes. */
object PlanFingerprints {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("PLAN_FINGERPRINTS.json")
    val spark = LocalSession(4)
    val entries =
      (Plans.fingerprinted.map { name =>
        name -> graft.plans.PlanFingerprint.of(
          SparkEntry.queries(name)(spark, sfDir))
      } ++ Plans.scopedFingerprints.toSeq.map { case (name, fp) =>
        name -> fp(spark, sfDir)
      }).sortBy(_._1).map { case (name, fp) => s"""  "$name": "$fp"""" }
    Files.writeString(Paths.get(out),
      entries.mkString("{\n", ",\n", "\n}\n"))
    println(s"[fingerprints] wrote ${entries.size} shapes to $out")
    spark.stop()
  }
}
