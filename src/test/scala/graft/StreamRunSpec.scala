package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import graft.queries.QueryUtil
import graft.streaming.StreamRun

/** [[StreamRun]] is the one stream runner of the streaming inventory
  * keys, and [[QueryUtil.scratchRoot]] the one owner of staged scratch. */
class StreamRunSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get
  import spark.implicits._

  private def sinkViews: Seq[String] =
    spark.catalog.listTables().collect().toSeq
      .filter(t => t.isTemporary && t.name.startsWith("graft_stream_"))
      .map(_.name)

  test("scratchRoot registers every root with the one cleanup hook") {
    val app = spark.sparkContext.applicationId
    val a = QueryUtil.scratchRoot(spark, "spec_a")
    val b = QueryUtil.scratchRoot(spark, "spec_b")
    assert(a == s"/tmp/graft_spec_a/$app")
    assert(b == s"/tmp/graft_spec_b/$app")
    assert(QueryUtil.scratchRoots.containsAll(Seq(a, b).asJava))
  }

  test("run returns the sink's projection and leaves no view behind") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Int]
    ms.addData(1, 2, 3, 3)
    val got = StreamRun.run(spark, ms.toDF().groupBy("value").count(),
      "complete")(_.withColumn("twice", col("count") * 2))
    val want = Seq(1, 2, 3, 3).toDF("value").groupBy("value").count()
      .withColumn("twice", col("count") * 2)
    assert(got.collect().toSet == want.collect().toSet)
    assert(spark.streams.active.isEmpty)
    assert(sinkViews.isEmpty)
  }

  test("a failing run rethrows, stops its query and drops its view") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Int]
    ms.addData(1, 2, 3)
    val failing = ms.toDF().select(when(col("value") === 3,
      raise_error(lit("boom"))).otherwise(col("value")).as("v"))
    val e = intercept[StreamingQueryException] {
      StreamRun.run(spark, failing)(identity)
    }
    assert(e.getMessage.contains("boom"))
    assert(spark.streams.active.isEmpty)
    assert(sinkViews.isEmpty)
  }

  test("stage writes its parts once, as mtime-ordered files the keyed " +
      "stream replays") {
    val dir = s"/fixture/streamrun_spec_${System.nanoTime()}"
    var evaluated = 0
    def stage() = StreamRun.stage(spark, dir, "keyed") {
      evaluated += 1
      Seq(Seq((1L, 10L, 1.0), (2L, 11L, 2.0)), Seq((1L, 20L, 4.0)))
        .map(_.toDF("key", "tsMillis", "value"))
    }
    val staged = stage()
    assert(stage() == staged && evaluated == 1)
    val files = new java.io.File(staged).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(files.map(_.getName).toSeq == Seq("00.parquet", "01.parquet"))
    assert(files(0).lastModified < files(1).lastModified)
    assert(new java.io.File(staged, "_STAGED").isFile)
    val got = StreamRun.run(spark, StreamRun.keyed(spark, staged).toDF())(
      identity).as[(Long, Long, Double)].collect().toSet
    assert(got == Set((1L, 10L, 1.0), (2L, 11L, 2.0), (1L, 20L, 4.0)))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(staged))
  }

  test("memory sinks and scratch roots have one home each") {
    def sources(dir: String): List[Path] = {
      val walk = Files.walk(Paths.get(dir))
      try walk.iterator.asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
        .toList finally walk.close()
    }
    val banned = Seq("format(\"memory\")", "\"/tmp/graft_")
    def offenders(dir: String, home: String): List[String] = {
      val all = sources(dir)
      assert(all.exists(_.getFileName.toString == home), s"$home in $dir")
      all.filterNot(_.getFileName.toString == home)
        .filter(p => banned.exists(Files.readString(p).contains))
        .map(_.toString)
    }
    val bad = offenders("src/main/scala/graft/queries", "QueryUtil.scala") ++
      offenders("src/main/scala/graft/streaming", "StreamRun.scala")
    assert(bad.isEmpty,
      "run streams through graft.streaming.StreamRun and take scratch " +
        "from QueryUtil.scratchRoot: " + bad.sorted.mkString(", "))
  }
}
