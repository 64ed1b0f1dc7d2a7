package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import scala.collection.mutable

/** Spans recorded by the benchmark around its own calls into the engine.
  *
  * A span has a name (`layer.call`), start, end, parent and request id (a
  * tick, batch, rep or file). With tracing off, `apply` only runs its body.
  * With tracing on, each span also sets a Spark job group, so the engine
  * counters [[SparkCounters]] collects are attributed to the innermost open
  * span. Spans are kept in memory and written out when the run ends. */
final class Trace(private val enabled: Boolean) {
  /** Whether spans are recorded now; a traced run may switch it off for
    * single operations to measure the untraced cost beside the traced one. */
  var on: Boolean = enabled
  final class Span(val id: Int, val name: String, val parent: Int, val scenario: String,
                   val request: String, val start: Long) {
    var end: Long = 0L
    def layer: String = name.takeWhile(_ != '.')
    def seconds: Double = (end - start) / 1e9
  }

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var sc: SparkContext = _
  val counters = new SparkCounters
  /** Job groups set by threads the benchmark does not own (a streaming
    * query's runId), mapped to the span that started them. */
  private val aliases = mutable.Map.empty[String, Int]

  def attach(context: SparkContext): Unit = {
    sc = context
    if (enabled) sc.addSparkListener(counters)
  }

  def apply[T](name: String, scenario: String, request: String = "")(body: => T): T =
    if (!on) body
    else {
      val parent = stack.headOption
      val s = new Span(spans.size, name, parent.fold(-1)(_.id), scenario, request, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setJobGroup(s"pb-${s.id}", name)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        parent match {
          case Some(p) => sc.setJobGroup(s"pb-${p.id}", p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Attributes jobs run under `group` by another thread to the open span. */
  def alias(group: String): Unit = if (on) stack.headOption.foreach(s => aliases(group) = s.id)

  /** Self time: duration minus the part covered by child spans (children
    * run on the caller's thread one after another, so they never overlap). */
  def selfSeconds: Map[Int, Double] = {
    val child = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.seconds)
    spans.map(s => s.id -> (s.seconds - child(s.id))).toMap
  }

  /** Engine counters per span id, after every queued listener event landed. */
  def sparkBySpan(): Map[Int, Array[Double]] = {
    if (!enabled) return Map.empty
    org.apache.spark.BenchBus.drain(sc)
    counters.snapshot().flatMap { case (g, v) =>
      val id = if (g.startsWith("pb-")) Some(g.drop(3).toInt) else aliases.get(g)
      id.map(_ -> v)
    }.groupMapReduce(_._1)(_._2)((a, b) => a.zip(b).map { case (x, y) => x + y })
  }

  def toJson(self: Map[Int, Double], spark: Map[Int, Array[Double]]): String =
    spans.map { s =>
      val c = spark.get(s.id).fold("") { v =>
        SparkCounters.names.zip(v).map { case (k, x) => s""","$k":$x""" }.mkString
      }
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"scenario":"${s.scenario}",""" +
        s""""request":"${s.request}","start_ns":${s.start},"end_ns":${s.end},"self_s":${self(s.id)}$c}"""
    }.mkString("[\n", ",\n", "\n]\n")
}

/** Engine counters per Spark job group: jobs, tasks, executor run/CPU/GC
  * time, shuffle, spill and I/O bytes, summed over the group's tasks. */
final class SparkCounters extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val byGroup = mutable.Map.empty[String, Array[Double]]

  private def add(g: String, i: Int, v: Double): Unit = byGroup.synchronized {
    byGroup.getOrElseUpdate(g, new Array[Double](SparkCounters.names.size))(i) += v
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { g =>
      e.stageIds.foreach(stageGroup.put(_, g))
      add(g, 0, 1)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (g != null && m != null) {
      add(g, 1, 1)
      add(g, 2, m.executorRunTime / 1e3)
      add(g, 3, m.executorCpuTime / 1e9)
      add(g, 4, m.jvmGCTime / 1e3)
      add(g, 5, m.shuffleReadMetrics.totalBytesRead.toDouble)
      add(g, 6, m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(g, 7, (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add(g, 8, m.inputMetrics.bytesRead.toDouble)
      add(g, 9, m.outputMetrics.bytesWritten.toDouble)
    }
  }

  def snapshot(): Map[String, Array[Double]] = byGroup.synchronized(byGroup.map { case (k, v) => k -> v.clone() }.toMap)
}

object SparkCounters {
  val names: Seq[String] = Seq("jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes", "output_bytes")
}
