package graft

/** Materializes the sf1 fixture (Sf1Probe's 10× key-shifted scaling of
  * sf0.1) WITHOUT running the timing probe — the entry point the sf1
  * CORRECTNESS sweep uses: `runMain graft.Sf1Build [dstDir]`, then
  * `runMain graft.Verify <dstDir> <outDir>` + tools/sweep_sf1.sh.
  * Idempotent via the fixture's _READY marker. */
object Sf1Build {
  def main(args: Array[String]): Unit = {
    val dst = args.headOption.getOrElse("/tmp/graft_sf1")
    val spark = LocalSession()
    Sf1Probe.buildSf1(spark, "/root/testdata/sf0.1", dst)
    System.err.println(s"[sf1build] fixture ready at $dst")
    spark.stop()
  }
}
