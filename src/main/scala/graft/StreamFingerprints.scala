package graft

import java.nio.file.{Files, Paths}

/** Regenerates STREAM_FINGERPRINTS.json — the committed streaming
  * TOPOLOGY ledger StreamTopologySpec gates on (the streaming twin of
  * [[PlanFingerprints]]; see [[graft.plans.StreamTopology]]). Run
  * after an INTENTIONAL streaming-shape change; the diff is the
  * review artifact. Runs on the same `LocalSession(4)` as
  * SparkTestSession so the spec recomputes identical shapes. */
object StreamFingerprints {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("STREAM_FINGERPRINTS.json")
    val spark = LocalSession(4)
    val keys = graft.queries.TimeSeriesQueries.streamingKeys.toSeq.sorted
    val entries = keys.map { name =>
      val fp = graft.plans.StreamTopology.fingerprint(spark, name, sfDir)
      println(s"[streamfp] $name -> $fp")
      s"""  "$name": "$fp""""
    }
    Files.writeString(Paths.get(out),
      entries.mkString("{\n", ",\n", "\n}\n"))
    println(s"[streamfp] wrote ${entries.size} shapes to $out")
    spark.stop()
  }
}
