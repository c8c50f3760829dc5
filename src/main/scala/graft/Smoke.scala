package graft

/** Smoke check of the library entry point: a fresh session calling
  * SparkEntry.entry, checking rows > 0. Shuffle partitions go back to
  * Spark's default so none of the harness sizing is preset. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession(4)
    spark.conf.unset("spark.sql.shuffle.partitions")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5)
    println(s"[smoke] entry rows=$n schema=${df.schema.simpleString}")
    assert(n > 0, "entry returned no rows")
    spark.stop()
  }
}
