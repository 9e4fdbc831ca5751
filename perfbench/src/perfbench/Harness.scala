package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import scala.collection.mutable.ArrayBuffer

/** Spark counters for one window of driver time (one run or one lane),
  * collected from outside the program: a listener for jobs and tasks,
  * the process-wide codegen counters, and the task-busy timeline.
  */
final case class Window(wallMs: Double, jobs: Long, tasks: Long,
                        taskRunMs: Long, taskCpuMs: Double, gcMs: Long,
                        widestTaskMs: Long, medianTaskMs: Double,
                        inputBytes: Long, shuffleWriteBytes: Long,
                        spillBytes: Long, codegenCompiles: Long,
                        codegenMs: Double, driverOnlyMs: Double) {
  def metrics: Seq[(String, Double, String)] = Seq(
    ("spark.jobs", jobs.toDouble, "count"),
    ("spark.tasks", tasks.toDouble, "count"),
    ("spark.task_run_ms", taskRunMs.toDouble, "ms"),
    ("spark.task_cpu_ms", taskCpuMs, "ms"),
    ("spark.gc_ms", gcMs.toDouble, "ms"),
    ("spark.widest_task_ms", widestTaskMs.toDouble, "ms"),
    ("spark.median_task_ms", medianTaskMs, "ms"),
    ("spark.input_bytes", inputBytes.toDouble, "bytes"),
    ("spark.shuffle_write_bytes", shuffleWriteBytes.toDouble, "bytes"),
    ("spark.spill_bytes", spillBytes.toDouble, "bytes"),
    ("spark.codegen_compiles", codegenCompiles.toDouble, "count"),
    ("spark.codegen_ms", codegenMs, "ms"),
    ("spark.driver_only_ms", driverOnlyMs, "ms"))
}

final class Counters(val spark: SparkSession) extends SparkListener {
  private final case class Task(launch: Long, finish: Long, runMs: Long,
                                cpuNs: Long, gcMs: Long, input: Long,
                                shuffle: Long, spill: Long)
  private val tasks = ArrayBuffer.empty[Task]
  private var jobs = 0L
  spark.sparkContext.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime, m.inputMetrics.bytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  /** Run `body` and return its result with the counters of its window. */
  def measure[A](body: => A): (A, Window) = {
    val sc = spark.sparkContext
    org.apache.spark.perfbench.ListenerDrain(sc)
    synchronized { tasks.clear(); jobs = 0 }
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileNs0 = CodeGenerator.compileTime
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val out = body
    val wallMs = (System.nanoTime() - n0) / 1e6
    val t1 = System.currentTimeMillis()
    org.apache.spark.perfbench.ListenerDrain(sc)
    val w = synchronized {
      val durs = tasks.map(t => t.finish - t.launch).sorted
      Window(wallMs, jobs, tasks.size.toLong, tasks.map(_.runMs).sum,
        tasks.map(_.cpuNs).sum / 1e6, tasks.map(_.gcMs).sum,
        if (durs.isEmpty) 0L else durs.last, Stats.median(durs.map(_.toDouble).toSeq),
        tasks.map(_.input).sum, tasks.map(_.shuffle).sum, tasks.map(_.spill).sum,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0,
        (CodeGenerator.compileTime - compileNs0) / 1e6,
        math.max(0.0, wallMs - busyMs(t0, t1)))
    }
    (out, w)
  }

  /** Milliseconds of [t0, t1] during which at least one task ran. */
  private def busyMs(t0: Long, t1: Long): Double = {
    val iv = tasks.map(t => (math.max(t0, t.launch), math.min(t1, t.finish)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var end = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a >= end) { busy += b - a; end = b }
      else if (b > end) { busy += b - end; end = b }
    }
    busy.toDouble
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Counter-wise median over several windows. */
  def medianWindow(ws: Seq[Window]): Seq[(String, Double, String)] =
    ws.head.metrics.indices.map { i =>
      val (name, _, unit) = ws.head.metrics(i)
      (name, median(ws.map(_.metrics(i)._2)), unit)
    }
}

/** In-memory spans around the benchmark's calls into the program; written
  * out once, when the traced run ends.
  */
final class Tracer(runId: String) {
  final case class Span(id: Int, name: String, parent: Int, startNs: Long,
                        var endNs: Long, var counters: Seq[(String, Double, String)] = Nil) {
    def ms: Double = (endNs - startNs) / 1e6
  }
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]

  def span[A](name: String)(body: => A): A = {
    val s = Span(spans.size, name, stack.headOption.getOrElse(-1), System.nanoTime(), 0L)
    spans += s
    stack = s.id :: stack
    try body finally { s.endNs = System.nanoTime(); stack = stack.tail }
  }

  /** Span duration minus the part of it its child spans cover. */
  def selfMs(name: String): Double = spans.filter(_.name == name).map { s =>
    s.ms - spans.filter(_.parent == s.id).map(_.ms).sum
  }.sum

  def totalMs(name: String): Double = spans.filter(_.name == name).map(_.ms).sum

  /** A span whose Spark counters are recorded with it. */
  def counted[A](name: String, c: Counters)(body: => A): (A, Window) = {
    val (out, w) = c.measure(span(name)(body))
    spans.filter(_.name == name).last.counters = w.metrics
    (out, w)
  }

  /** Summed counter of the named spans. */
  def counter(name: String, counter: String): Double =
    spans.filter(_.name == name).flatMap(_.counters).filter(_._1 == counter).map(_._2).sum

  def write(path: Path, extra: Seq[(String, Any)]): Unit = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val rows = spans.map { s =>
      Json.obj(Seq("run" -> runId, "id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "start_ms" -> (s.startNs - t0) / 1e6,
        "end_ms" -> (s.endNs - t0) / 1e6, "self_ms" -> (s.ms -
          spans.filter(_.parent == s.id).map(_.ms).sum),
        "counters" -> Json.Raw(Json.obj(s.counters.map(c => c._1 -> c._2)))))
    }
    Files.createDirectories(path.getParent)
    Files.writeString(path, Json.obj(extra :+ ("spans" -> Json.Raw(rows.mkString("[", ",", "]")))) + "\n")
  }
}

object Json {
  final case class Raw(s: String)
  private def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => require(!d.isNaN && !d.isInfinite, "non-finite metric"); d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Seq[_] => m.map(value).mkString("[", ",", "]")
    case other => value(other.toString)
  }
  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}
