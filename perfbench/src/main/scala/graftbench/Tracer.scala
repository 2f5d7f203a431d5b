package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** In-memory span and counter recorder for the traced passes. The
  * benchmark's own spans (pass → query → {call, sink}) come from
  * [[Harness]]; this adds Spark job and stage spans (a [[SparkListener]],
  * attributed to queries through the job group the harness sets),
  * planning phases and sink row counts (a [[QueryExecutionListener]]),
  * and persisted-block sizes (block-manager update events). Everything is
  * kept in memory and serialised once, after the last traced pass. */
final class Tracer(spark: SparkSession) {
  private case class Job(id: Int, group: String, startMs: Long, var endMs: Long)
  private case class Stage(id: Int, job: Int, startMs: Long, endMs: Long, tasks: Int,
                           runMs: Long, cpuNs: Long, gcMs: Long, shuffleWrite: Long,
                           shuffleRead: Long, fetchWaitMs: Long, spill: Long, input: Long)
  private case class QueryStats(pass: Int, query: String, callUs: (Long, Long), sinkUs: (Long, Long),
                                analysisMs: Long, optimizationMs: Long, planningMs: Long,
                                sinkRows: Long, sinkBytes: Long, ckptWritten: Long,
                                ckptPeak: Long, liveBlocksEnd: Int)

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.ArrayBuffer.empty[Stage]
  private val queries = mutable.ArrayBuffer.empty[QueryStats]
  private val live = mutable.HashMap.empty[RDDBlockId, Long]
  // per-query accumulators, reset at each query start
  private var phases = Map.empty[String, Long].withDefaultValue(0L)
  private var sinkRows, sinkBytes, ckptWritten, ckptPeak = 0L
  @volatile var gcMs = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs(e.jobId) = Job(e.jobId, group, e.time, -1L)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages += Stage(i.stageId, stageJob.getOrElse(i.stageId, -1),
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), i.numTasks,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled, m.inputMetrics.bytesRead)
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Tracer.this.synchronized {
      val b = e.blockUpdatedInfo
      b.blockId match {
        case id: RDDBlockId =>
          val size = b.memSize + b.diskSize
          if (b.storageLevel.isValid && size > 0) {
            if (!live.contains(id)) ckptWritten += size
            live(id) = size
          } else live.remove(id)
          ckptPeak = math.max(ckptPeak, live.valuesIterator.sum)
        case _ =>
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        qe.tracker.phases.foreach { case (k, p) => phases += k -> (phases(k) + p.durationMs) }
        // AQE wraps write commands too; the helper walks into its stages
        def writes(p: SparkPlan): Unit = Tracer.Plans.foreach(p) {
          case c: CommandResultExec => writes(c.commandPhysicalPlan)
          case w: DataWritingCommandExec =>
            sinkRows += w.cmd.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
            sinkBytes += w.cmd.metrics.get("numOutputBytes").map(_.value).getOrElse(0L)
          case _ =>
        }
        writes(qe.executedPlan)
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  private def drain(): Unit = org.apache.spark.sql.graft.CheckpointBridge.drainListeners(spark)

  def queryStart(): Unit = {
    drain()
    synchronized {
      phases = Map.empty[String, Long].withDefaultValue(0L)
      sinkRows = 0L; sinkBytes = 0L; ckptWritten = 0L
      ckptPeak = live.valuesIterator.sum
    }
  }

  /** Called when a query returns, before the harness drops its persisted
    * frames: the blocks still live here are the query's leftovers. */
  def queryEnd(r: Harness.QueryRun): Unit = {
    drain()
    synchronized {
      queries += QueryStats(r.pass, r.query, r.callUs, r.sinkUs, phases("analysis"),
        phases("optimization"), phases("planning"), sinkRows, sinkBytes, ckptWritten,
        ckptPeak, live.size)
    }
  }

  def toJson(nPasses: Int): String = synchronized {
    val sb = new StringBuilder
    sb ++= s"""{"passes": $nPasses, "gc_ms": $gcMs"""
    sb ++= ", \"queries\": " + queries.map { q =>
      s"""{"pass": ${q.pass}, "query": ${Json.str(q.query)}, "call_us": [${q.callUs._1}, ${q.callUs._2}], """ +
        s""""sink_us": [${q.sinkUs._1}, ${q.sinkUs._2}], "analysis_ms": ${q.analysisMs}, """ +
        s""""optimization_ms": ${q.optimizationMs}, "planning_ms": ${q.planningMs}, """ +
        s""""sink_rows": ${q.sinkRows}, "sink_bytes": ${q.sinkBytes}, "ckpt_written_bytes": ${q.ckptWritten}, """ +
        s""""ckpt_peak_bytes": ${q.ckptPeak}, "live_blocks_end": ${q.liveBlocksEnd}}"""
    }.mkString("[", ", ", "]")
    sb ++= ", \"jobs\": " + jobs.values.map { j =>
      s"""{"id": ${j.id}, "group": ${Json.str(j.group)}, "start_ms": ${j.startMs}, "end_ms": ${j.endMs}}"""
    }.mkString("[", ", ", "]")
    sb ++= ", \"stages\": " + stages.map { s =>
      s"""{"id": ${s.id}, "job": ${s.job}, "start_ms": ${s.startMs}, "end_ms": ${s.endMs}, """ +
        s""""tasks": ${s.tasks}, "run_ms": ${s.runMs}, "cpu_ns": ${s.cpuNs}, "gc_ms": ${s.gcMs}, """ +
        s""""shuffle_write_bytes": ${s.shuffleWrite}, "shuffle_read_bytes": ${s.shuffleRead}, """ +
        s""""fetch_wait_ms": ${s.fetchWaitMs}, "spill_bytes": ${s.spill}, "input_bytes": ${s.input}}"""
    }.mkString("[", ", ", "]")
    sb ++= "}"
    sb.toString
  }
}

object Tracer {
  private object Plans extends AdaptiveSparkPlanHelper

  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()

  /** Wall-clock microseconds from a monotonic source, on the same epoch as
    * Spark's listener-event millisecond timestamps. */
  def epochUs(): Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L
}
