package graft

import org.apache.spark.sql.SparkSession

/** The one local session every main and the test suite start from:
  * `local[cores]` with the library's `GraftExtensions`, shuffle
  * partitions = `cores`, UTC, no UI, a fresh temp warehouse dir and
  * log level WARN. The state-store coordinator's snapshot-lag report is
  * off: its "Snapshot Lag Report" WARNs flag the state stores of short
  * local stream runs and were most of a stream run's log (625 of
  * StreamCorrectness's 851 lines). Callers that pin plan shapes (the fingerprint
  * ledgers, plan dumps, tests) pass 4; everything else takes the
  * default. A caller that needs one different conf sets it on the
  * returned session. */
object LocalSession {
  /** `SPARK_GRAFT_CPUS`, else the JVM's available processors. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(cores: Int = cpus): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.stateStore." +
        "coordinatorReportSnapshotUploadLag", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The dev-loop key filter `SPARK_GRAFT_ONLY=k1,k2`: None when unset
    * or empty (run everything). A name outside `known` is reported on
    * stderr under `tag`, so a typo cannot silently shrink a run to a
    * subset that looks like a full one. */
  def onlyKeys(tag: String, known: Iterable[String]): Option[Set[String]] = {
    val only = sys.env.getOrElse("SPARK_GRAFT_ONLY", "").split(",")
      .map(_.trim).filter(_.nonEmpty).toSet
    val unknown = only -- known
    if (unknown.nonEmpty) System.err.println(
      s"[$tag] WARNING: SPARK_GRAFT_ONLY names match nothing here: " +
        unknown.toSeq.sorted.mkString(","))
    Option(only).filter(_.nonEmpty)
  }
}
