package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Task counters summed over every job that ran under one tag. */
final class Counters {
  var jobs, stages, tasks = 0
  var cpuNs, runMs, durMs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, peakMem, blockBytes = 0L

  def toJson: String = Json.obj(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "cpu_ns" -> cpuNs, "run_ms" -> runMs, "dur_ms" -> durMs,
    "gc_ms" -> gcMs, "shuffle_write" -> shuffleWrite,
    "shuffle_read" -> shuffleRead, "spill" -> spill,
    "peak_mem" -> peakMem, "block_bytes" -> blockBytes)
}

/** Records Spark jobs, stages, tasks, RDD block writes and streaming
  * progress, each attributed to the `pass|key|phase` tag the harness sets
  * as the local property [[Tracer.Prop]] before it starts a phase. Work
  * without the property (untraced passes) is ignored. Everything is held
  * in memory; the harness reads it after draining the listener bus. */
final class Tracer(sc: org.apache.spark.SparkContext) extends SparkListener {
  val counters = mutable.LinkedHashMap[String, Counters]()
  val jobSpans = mutable.ArrayBuffer[String]()
  val batches = mutable.ArrayBuffer[String]()
  private val stageTag = mutable.HashMap[Int, String]()
  private val rddTag = mutable.HashMap[Int, String]()
  private val jobOpen = mutable.HashMap[Int, (String, Long, Int)]()
  private val runTag = mutable.HashMap[java.util.UUID, String]()

  private def tagOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.Prop)))
  private def c(tag: String): Counters =
    counters.getOrElseUpdate(tag, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    tagOf(e.properties).foreach { t =>
      c(t).jobs += 1
      jobOpen(e.jobId) = (t, e.time, e.stageIds.size)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOpen.remove(e.jobId).foreach { case (t, start, nStages) =>
      jobSpans += Json.obj("tag" -> t, "job" -> e.jobId,
        "start_ms" -> start, "end_ms" -> e.time, "stages" -> nStages)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      tagOf(e.properties).foreach { t =>
        stageTag(e.stageInfo.stageId) = t
        e.stageInfo.rddInfos.foreach(r => rddTag.getOrElseUpdate(r.id, t))
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageTag.get(e.stageInfo.stageId).foreach(t => c(t).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageTag.get(e.stageId).foreach { t =>
      val k = c(t)
      k.tasks += 1
      k.durMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        k.cpuNs += m.executorCpuTime
        k.runMs += m.executorRunTime
        k.gcMs += m.jvmGCTime
        k.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        k.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        k.spill += m.diskBytesSpilled
        k.peakMem = math.max(k.peakMem, m.peakExecutionMemory)
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val info = e.blockUpdatedInfo
      if (info.storageLevel.isValid)
        info.blockId.asRDDId.flatMap(b => rddTag.get(b.rddId)).foreach { t =>
          c(t).blockBytes += info.memSize + info.diskSize
        }
    }

  /** Micro-batch progress. `onQueryStarted` runs synchronously on the
    * thread that starts the query, so the local property read there is the
    * tag of the phase that started it. */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      Option(sc.getLocalProperty(Tracer.Prop)).foreach { t =>
        Tracer.this.synchronized { runTag(e.runId) = t }
      }
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        runTag.get(p.runId).foreach { t =>
          def d(k: String): Long =
            Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
          val st = p.stateOperators
          batches += Json.obj("tag" -> t, "run" -> p.runId.toString,
            "batch" -> p.batchId, "timestamp" -> p.timestamp,
            "trigger_ms" -> d("triggerExecution"),
            "add_batch_ms" -> d("addBatch"), "get_batch_ms" -> d("getBatch"),
            "latest_offset_ms" -> d("latestOffset"),
            "query_planning_ms" -> d("queryPlanning"),
            "wal_commit_ms" -> d("walCommit"),
            "commit_offsets_ms" -> d("commitOffsets"),
            "input_rows" -> p.numInputRows,
            "state_rows" -> st.map(_.numRowsTotal).sum,
            "state_mem" -> st.map(_.memoryUsedBytes).sum,
            "state_commit_ms" -> st.map(_.commitTimeMs).sum)
        }
      }
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  def toJson: String = synchronized {
    Json.obj(
      "counters" -> Json.Raw(counters.map { case (t, k) =>
        Json.str(t) + ":" + k.toJson }.mkString("{", ",", "}")),
      "jobs" -> Json.Raw(jobSpans.mkString("[", ",", "]")),
      "batches" -> Json.Raw(batches.mkString("[", ",", "]")))
  }
}

object Tracer {
  val Prop = "perfbench.tag"
}
