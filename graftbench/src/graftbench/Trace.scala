package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.scheduler._

/** Spans and counts the benchmark takes around the public calls it
  * makes into the engine. Disabled (every call a pass-through) in the
  * untraced runs that produce the end-to-end metrics.
  */
final class Trace {
  @volatile var enabled: Boolean = false
  private val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      try body finally record(name, (System.nanoTime() - t0) / 1e6)
    }

  def record(name: String, v: Double): Unit =
    if (enabled) synchronized { samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += v }

  def values(name: String): Seq[Double] = synchronized {
    samples.get(name).map(_.toSeq).getOrElse(Nil)
  }
  def median(name: String): Double = Stats.median(values(name))
}

/** Per-module Spark counters, attributed from outside the engine: each
  * job belongs to the innermost `graft.<pkg>.<Object>` frame of its
  * call site, read from the stage details Spark records. Jobs that
  * adaptive execution submits from its own threads carry no engine
  * frame; they take the call site of the SQL execution they belong to.
  * Jobs the benchmark itself starts on a DataFrame an engine call
  * returned (a `collect()`, a sink) count to the module of that call,
  * which the benchmark names in the [[ModuleListener.ModuleProp]] local
  * property. Jobs started while the benchmark checks outputs carry the
  * [[ModuleListener.CheckProp]] local property and are ignored.
  */
final class ModuleListener extends SparkListener {
  import ModuleListener._

  final class Counters {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var cpuNs = 0L; var gcMs = 0L; var shuffleWrite = 0L; var spill = 0L
  }

  private val byModule = new ConcurrentHashMap[String, Counters]()
  private val stageModule = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
  private val executionModule = new ConcurrentHashMap[Long, String]()

  private def counters(m: String): Counters = byModule.computeIfAbsent(m, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val ignored = Option(e.properties).exists(p => p.getProperty(CheckProp) != null)
    if (!ignored) {
      val last = e.stageInfos.sortBy(_.stageId).lastOption
      val fromStage = last.map(s => moduleOf(s.details)).getOrElse(Other)
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val fromExecution = prop("spark.sql.execution.id")
        .flatMap(id => Option(executionModule.get(id.toLong))).getOrElse(Other)
      val module =
        if (fromStage != Other) fromStage
        else if (fromExecution != Other) fromExecution
        else prop(ModuleProp).getOrElse(Other)
      e.stageIds.foreach(id => stageModule.put(id, module))
      synchronized { counters(module).jobs += 1 }
      jobStart.put(e.jobId, e.time)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      val m = moduleOf(x.details)
      val inherited = x.rootExecutionId.flatMap(r => Option(executionModule.get(r)))
      executionModule.put(x.executionId, if (m != Other) m else inherited.getOrElse(Other))
    case _ => ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { t0 =>
      synchronized { jobSpans += ((t0.longValue, e.time)) }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageModule.get(info.stageId)).foreach { module =>
      synchronized {
        val c = counters(module)
        c.stages += 1
        c.tasks += info.numTasks
        Option(info.taskMetrics).foreach { m =>
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  def snapshot(): Map[String, Counters] = synchronized {
    import scala.jdk.CollectionConverters._
    byModule.asScala.toMap
  }

  /** Σ wall time of the jobs that ran inside [t0, t1] (epoch ms). */
  def jobWallWithin(t0: Long, t1: Long): Double = synchronized {
    jobSpans.iterator.filter { case (s, e) => s >= t0 && e <= t1 }
      .map { case (s, e) => (e - s).toDouble }.sum
  }
}

object ModuleListener {
  val CheckProp = "graftbench.check"
  val ModuleProp = "graftbench.module"
  val Other = "other"
  private val Frame = """(?m)^\s*(?:at\s+)?graft\.([a-z]+)\.([A-Za-z0-9_]+?)\$?[.$]""".r

  /** `ops.Dedup` for a call site whose innermost engine frame is in
    * `graft.ops.Dedup`; [[Other]] when no engine frame is present.
    */
  def moduleOf(details: String): String =
    Option(details).flatMap(d => Frame.findFirstMatchIn(d))
      .map(m => s"${m.group(1)}.${m.group(2)}").getOrElse(Other)
}
