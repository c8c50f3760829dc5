package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt forks a single test JVM). */
object SparkTestSession {
  lazy val get: SparkSession = LocalSession(4)

  /** Run `body` with the given session confs set, then restore them. */
  def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> get.conf.getOption(k) }
    kv.foreach { case (k, v) => get.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => get.conf.set(k, v)
      case (k, None)    => get.conf.unset(k)
    }
  }

  /** How many Spark jobs `body` starts on this thread. A sentinel job run
    * after `body` flushes the listener bus up to it. */
  def jobsDuring(body: => Unit): Int = {
    val sc = get.sparkContext
    val group = s"jobs-during-${System.nanoTime}"
    val started = new java.util.concurrent.atomic.AtomicInteger
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty("spark.jobGroup.id") ==
            group).foreach { p =>
          if (p.getProperty("spark.job.description") == "sentinel")
            flushed.countDown()
          else started.incrementAndGet()
        }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "measured")
    try {
      body
      sc.setJobDescription("sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not deliver the sentinel job")
      started.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
