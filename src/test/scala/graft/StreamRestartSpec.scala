package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{StreamRun, StreamingOps}
import graft.streaming.StreamingOps.KeyedEvent

/** A stateful stream stopped after its first file and resumed from its
  * checkpoint emits exactly what one uninterrupted run emits: the
  * per-key state and the watermark survive the restart, and no file is
  * read twice. The sink is a parquet file sink, because Spark's memory
  * sink only recovers from a checkpoint in complete mode. */
class StreamRestartSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get
  import spark.implicits._

  /** Three time-ordered files of 40 events over keys 1-3, 1 s apart. */
  private def files: Seq[DataFrame] = (0 until 3).map { f =>
    (0 until 40).map { i =>
      ((i % 3 + 1).toLong, f * 40000L + i * 1000L, (i % 7) * 0.5)
    }.toDF("key", "tsMillis", "value")
  }

  private def restartMatchesUninterrupted(
      op: Dataset[KeyedEvent] => Dataset[_]): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft_restart")
      .toFile
    val base = System.currentTimeMillis() - 60000
    def stageFiles(src: String, ids: Range): Unit = ids.foreach { i =>
      StreamRun.writeFile(files(i), new java.io.File(src, f"$i%02d.parquet"),
        base + i * 1000L)
    }
    def runToEnd(src: String, out: String): Unit =
      op(StreamRun.keyed(spark, src)).writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", s"$out.ckpt")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    def rows(out: String): Seq[String] =
      spark.read.parquet(out).collect().toSeq.map(_.toString).sorted
    try {
      stageFiles(s"$root/whole", 0 until 3)
      runToEnd(s"$root/whole", s"$root/whole_out")
      stageFiles(s"$root/split", 0 until 1)
      runToEnd(s"$root/split", s"$root/split_out")
      stageFiles(s"$root/split", 1 until 3)
      runToEnd(s"$root/split", s"$root/split_out")
      val want = rows(s"$root/whole_out")
      assert(want.nonEmpty)
      assert(rows(s"$root/split_out") == want)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(root)
  }

  test("trailingW resumes its per-key buffers from the checkpoint") {
    // a 5 s frame reaches back across each file boundary
    restartMatchesUninterrupted(StreamingOps.trailingW(_,
      beforeMillis = 5000L))
  }

  test("runningWDelayed resumes its accumulators, pending rows and " +
      "watermark from the checkpoint") {
    restartMatchesUninterrupted(StreamingOps.runningWDelayed(_,
      latenessMillis = 3000L))
  }
}
