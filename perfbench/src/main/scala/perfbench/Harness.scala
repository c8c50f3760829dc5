package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The JVM half of the benchmark; `perfbench/run.py` drives it and turns
  * its raw record into metrics. Arguments are `name=value` pairs:
  *
  *  - `mode=input base=<dir> dst=<dir>` builds the 10x key-shifted fixture
  *    with `graft.Sf1Probe.buildSf1` and prints its table row counts;
  *  - `mode=run data=<dir> orders=<file> golden=<file> out=<file> setup=<n>
  *    seconds=<s> trace=<0|1> cores=<n> partitions=<n>` runs one workload:
  *    `n` set-up cycles (fresh session plus one warm-up pass each, the first reducing
  *    every result to its digest), then timed passes of noop-sink writes
  *    for `seconds` seconds, pass `i` using line `i` of `orders` as its key
  *    order;
  *  - `mode=dump data=<dir> keys=<k1,k2> out=<dir>` writes each key's
  *    result and oracle SQL for `tools/check_oracle.py`, and its digest;
  *  - `mode=selftest` checks that the digest ignores row and partition
  *    order and tells apart what it must.
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val o = args.map { a =>
      val i = a.indexOf('=')
      a.take(i) -> a.drop(i + 1)
    }.toMap
    o("mode") match {
      case "input" => input(o)
      case "run" => run(o)
      case "dump" => dump(o)
      case "selftest" => selftest()
      case m => sys.error(s"unknown mode $m")
    }
  }

  /** The session `graft.Bench` uses, `local[cores]` with the library's
    * planner extensions, but with `partitions` shuffle partitions and
    * default parallelism (one per core unless given). */
  def session(cores: Int, partitions: Int = 0): SparkSession = {
    val parts = (if (partitions > 0) partitions else cores).toString
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.default.parallelism", parts)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Stops a session and removes the per-application scratch the
    * streaming queries stage under /tmp (the library's own shutdown hook
    * only covers the first application of a JVM). */
  private def stop(s: SparkSession): Unit = {
    val app = s.sparkContext.applicationId
    s.stop()
    rm(new java.io.File(s"/tmp/graft_stream/$app"))
    new java.io.File("/tmp/graft_stream").delete(): Unit // only if empty
  }

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete(): Unit
  }

  private def query(key: String): (SparkSession, String) => DataFrame =
    graft.SparkEntry.queries(key)

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def input(o: Map[String, String]): Unit = {
    val spark = session(o.getOrElse("cores", "4").toInt)
    graft.Sf1Probe.buildSf1(spark, o("base"), o("dst"))
    for (t <- Seq("lineitem", "events"))
      println(s"rows $t ${spark.read.parquet(s"${o("dst")}/$t.parquet").count()}")
    stop(spark)
  }

  private def run(o: Map[String, String]): Unit = {
    val data = o("data")
    val cores = o("cores").toInt
    val partitions = o.getOrElse("partitions", "0").toInt
    val setupCycles = o("setup").toInt
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val orders = Files.readAllLines(Paths.get(o("orders"))).toArray
      .map(_.toString.split(",").toSeq)
    val golden = Files.readAllLines(Paths.get(o("golden"))).toArray
      .map(_.toString.split("\t")).map(a => a(0) -> a(1)).toMap
    var attempted, failed = 0
    val errors = mutable.ArrayBuffer[String]()
    def attempt[T](pass: Int, key: String)(body: => T): Option[T] = {
      attempted += 1
      val t0 = System.nanoTime()
      try Some(body)
      catch { case e: Throwable =>
        failed += 1
        errors += Json.obj("pass" -> pass, "key" -> key,
          "error" -> s"${e.getClass.getName}: ${e.getMessage}".take(500))
        None
      } finally
        System.err.println(f"[perfbench] pass $pass%d $key%s ${secondsSince(t0)}%.3f s")
    }

    // Set-up: each cycle starts a fresh session and runs one warm-up pass.
    // The first (cold) cycle reduces every key's result to its digest
    // instead of writing it to the noop sink: the run's correctness check.
    var spark: SparkSession = null
    val setups = mutable.ArrayBuffer[String]()
    var digests = Map.empty[String, String]
    for (cycle <- 0 until setupCycles) {
      if (spark != null) stop(spark)
      val t0 = System.nanoTime()
      spark = session(cores, partitions)
      val sessionS = secondsSince(t0)
      val t1 = System.nanoTime()
      for (k <- orders(cycle)) {
        if (cycle == 0)
          attempt(cycle, k)(Digest.of(query(k)(spark, data)))
            .foreach(d => digests += k -> d)
        else attempt(cycle, k)(noop(query(k)(spark, data)))
      }
      setups += Json.obj("session_s" -> sessionS, "warm_s" -> secondsSince(t1))
    }
    val mismatched = orders(0).filter(k => digests.get(k).exists(
      d => !golden.get(k).contains(d)))
    failed += mismatched.size

    // Timed passes. A traced run interleaves traced and untraced passes
    // (traced, untraced, untraced, traced, ...) so the tracing overhead is
    // measured in the same session and both kinds see the same warm-up.
    val sc = spark.sparkContext
    val tracer = if (trace) Some(new Tracer(sc)) else None
    tracer.foreach { t =>
      sc.addSparkListener(t)
      spark.streams.addListener(t.streams)
    }
    val passes = mutable.ArrayBuffer[String]()
    val spans = mutable.ArrayBuffer[String]()
    var traced, untraced = 0
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    def gcMs: Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean]
        .getCollectionTime).sum
    val janino = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    val (jit0, gc0, janino0) =
      (jit.getTotalCompilationTime, gcMs, janino.getCount)
    val tRun = System.nanoTime()
    var p = setupCycles
    while (passes.isEmpty || secondsSince(tRun) < seconds ||
        (trace && (traced < 2 || untraced < 2))) {
      val isTraced = trace && Set(0, 3).contains(passes.size % 4)
      val order = orders(p % orders.length)
      val jitPass0 = jit.getTotalCompilationTime
      val t0 = System.nanoTime()
      val keyTimes = order.map { k =>
        val tk = System.nanoTime()
        val startMs = System.currentTimeMillis()
        val ok = attempt(p, k) {
          if (isTraced) {
            def phase[T](name: String)(body: => T): T = {
              val tag = s"$p|$k|$name"
              sc.setLocalProperty(Tracer.Prop, tag)
              val start = System.currentTimeMillis()
              val ts = System.nanoTime()
              try body
              finally {
                sc.setLocalProperty(Tracer.Prop, null)
                spans += Json.obj("tag" -> tag, "parent" -> s"$p|$k",
                  "start_ms" -> start, "dur_s" -> secondsSince(ts))
              }
            }
            val df = phase("build")(query(k)(spark, data))
            phase("plan")(df.queryExecution.executedPlan)
            phase("action")(noop(df))
          } else noop(query(k)(spark, data))
        }.isDefined
        if (isTraced) spans += Json.obj("tag" -> s"$p|$k", "parent" -> null,
          "start_ms" -> startMs, "dur_s" -> secondsSince(tk))
        Json.obj("key" -> k, "s" -> secondsSince(tk), "ok" -> ok)
      }
      passes += Json.obj("pass" -> p, "traced" -> isTraced,
        "wall_s" -> secondsSince(t0),
        "jit_s" -> (jit.getTotalCompilationTime - jitPass0) / 1e3,
        "keys" -> Json.Raw(
          keyTimes.mkString("[", ",", "]")))
      if (isTraced) traced += 1 else if (trace) untraced += 1
      p += 1
    }
    val jvmJitS = (jit.getTotalCompilationTime - jit0) / 1e3
    val jvmGcS = (gcMs - gc0) / 1e3
    val janinoCompiles = janino.getCount - janino0
    tracer.foreach(_ => org.apache.spark.PerfbenchBus.drain(sc))
    val out = Json.obj(
      "spark_version" -> spark.version,
      "tmpdir" -> System.getProperty("java.io.tmpdir"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "setups" -> Json.Raw(setups.mkString("[", ",", "]")),
      "digests" -> digests, "mismatched" -> mismatched,
      "passes" -> Json.Raw(passes.mkString("[", ",", "]")),
      "spans" -> Json.Raw(spans.mkString("[", ",", "]")),
      "trace" -> Json.Raw(tracer.fold("null")(_.toJson)),
      "attempted" -> attempted, "failed" -> failed,
      "errors" -> Json.Raw(errors.mkString("[", ",", "]")),
      "vmhwm_mb" -> vmHwmMb(), "jit_s" -> jvmJitS, "gc_s" -> jvmGcS,
      "janino_compiles" -> janinoCompiles)
    stop(spark)
    Files.writeString(Paths.get(o("out")), out)
  }

  /** Peak resident set size of this process, from /proc. */
  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Double.NaN)

  private def dump(o: Map[String, String]): Unit = {
    val spark = session(o.getOrElse("cores", "4").toInt)
    val keys = o("keys").split(",").toSeq
    val out = o("out")
    new java.io.File(out).mkdirs()
    val lines = keys.map { k =>
      val df = query(k)(spark, o("data"))
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/$k")
      s"$k\t${Digest.of(df)}"
    }
    Files.writeString(Paths.get(out, "digests.tsv"), lines.mkString("", "\n", "\n"))
    val sql = graft.SparkEntry.oracleSql
    Files.writeString(Paths.get(out, "oracle_sql.json"),
      Json.value(keys.map(k => k -> sql(k)).toMap))
    stop(spark)
  }

  private def selftest(): Unit = {
    val spark = session(2)
    import spark.implicits._
    val df = Seq[(java.lang.Long, java.lang.Double, String, Seq[Double])](
      (1L, 0.5, "a", Seq(1.0, -0.0)), (2L, -0.0, null, Seq()),
      (3L, null, "c", null), (4L, Double.NaN, "d", Seq(2.5)),
      (5L, 1e300, "a", Seq(0.1)), (5L, 1e300, "a", Seq(0.1)))
      .toDF("id", "x", "s", "v")
    val d = Digest.of(df)
    def check(what: String, ok: Boolean): Unit =
      if (!ok) sys.error(s"digest self-test failed: $what")
    check("row order", Digest.of(df.orderBy($"id".desc)) == d)
    check("partition order",
      Digest.of(df.repartition(3, $"s").sortWithinPartitions($"x")) == d)
    check("round trip through parquet", {
      val p = Files.createTempDirectory("perfbench-selftest").toString
      df.write.mode("overwrite").parquet(s"$p/t")
      try Digest.of(spark.read.parquet(s"$p/t")) == d
      finally rm(new java.io.File(p))
    })
    check("duplicate rows count", Digest.of(df.dropDuplicates()) != d)
    check("negative zero",
      Digest.of(Seq(0.0).toDF("x")) != Digest.of(Seq(-0.0).toDF("x")))
    check("null position", Digest.of(Seq[(Option[Int], Option[Int])](
      (None, Some(1))).toDF("a", "b")) != Digest.of(
      Seq[(Option[Int], Option[Int])]((Some(1), None)).toDF("a", "b")))
    check("column names",
      Digest.of(Seq(1).toDF("a")) != Digest.of(Seq(1).toDF("b")))
    stop(spark)
    println("selftest ok")
  }
}
