package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{DoubleType, LongType, StructType}

/** The one runner of the streaming inventory keys: stage a bounded
  * fixture as time-ordered files, read it back as a file stream, run the
  * query to completion and hand back its output as a local DataFrame.
  *
  * Staged files live under this application's `stream` scratch root
  * ([[graft.queries.QueryUtil.scratchRoot]]), one directory per
  * (sf-dir, fixture), written once per application.
  */
object StreamRun {

  /** Monotone suffix for sink and scratch names: Bench re-runs keys in
    * one session, and each run needs a fresh sink table. */
  private val runs = new java.util.concurrent.atomic.AtomicLong(0)

  private[graft] def nextId(): Long = runs.incrementAndGet()

  /** `<stream scratch root>/<sf-dir basename>/<name>`: the sf key keeps
    * the warmup fixture and the measured one apart. */
  def scratch(s: SparkSession, dir: String, name: String): String =
    s"${graft.queries.QueryUtil.scratchRoot(s, "stream")}/" +
      s"${new java.io.File(dir).getName}/$name"

  /** Runs `stream` under `Trigger.AvailableNow` into a uniquely named
    * memory sink until it terminates, applies `project` to the sink
    * table and collects the result into a local DataFrame. `mode` is the
    * sink's output mode: complete for windowed aggregations that must
    * not hold back windows above the final watermark, append otherwise.
    * The query is stopped and the sink view dropped even when the run
    * fails, so a failed key leaks neither into the session. */
  def run(s: SparkSession, stream: DataFrame, mode: String = "append")(
      project: DataFrame => DataFrame): DataFrame = {
    val qn = s"graft_stream_${nextId()}"
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    try {
      q = stream.writeStream.outputMode(mode).format("memory").queryName(qn)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val sink = project(s.table(qn))
      s.createDataFrame(sink.collectAsList(), sink.schema)
    } finally {
      if (q != null && q.isActive) q.stop()
      s.catalog.dropTempView(qn): Unit
    }
  }

  /** Writes `parts` once per (application, sf-dir) into
    * `scratch(s, dir, name)` as `00.parquet, 01.parquet, …`, one file
    * each, with ascending mtimes, so a `maxFilesPerTrigger = 1` file
    * stream replays them as one micro-batch per part in order. A
    * `_STAGED` marker (hidden from the file source) records completion;
    * `parts` is not evaluated once it exists. */
  def stage(s: SparkSession, dir: String, name: String)(
      parts: => Seq[DataFrame]): String = synchronized {
    val staged = scratch(s, dir, name)
    val done = new java.io.File(staged, "_STAGED")
    if (!done.isFile) {
      val base = System.currentTimeMillis() - 60000
      parts.zipWithIndex.foreach { case (df, i) =>
        writeFile(df, new java.io.File(staged, f"$i%02d.parquet"),
          base + i * 1000L)
      }
      done.createNewFile(): Unit
    }
    staged
  }

  /** Writes `df` as the single parquet file `dst` with mtime `mtime`. */
  private[graft] def writeFile(df: DataFrame, dst: java.io.File,
      mtime: Long): Unit = {
    val tmp = new java.io.File(dst.getParentFile, s"__tmp_${dst.getName}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().find(f => f.getName.startsWith("part-") &&
      f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, dst.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    dst.setLastModified(mtime)
    org.apache.commons.io.FileUtils.deleteQuietly(tmp): Unit
  }

  /** The staged `(key, tsMillis, value)` fixture in `dir` as a file
    * stream, one file per micro-batch. */
  def keyed(s: SparkSession, dir: String): Dataset[StreamingOps.KeyedEvent] = {
    import s.implicits._
    val schema = new StructType().add("key", LongType)
      .add("tsMillis", LongType).add("value", DoubleType)
    s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir)
      .as[StreamingOps.KeyedEvent]
  }
}
