package perfbench

import graft.Leases
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Benchmark entry point (see perfbench/README.md):
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`,
  * or `--selftest --work <dir>`. Prints one JSON result as the last line
  * of stdout; run details go to a JSON line before it.
  */
object Main {

  val Workloads = Seq("etl_full", "etl_year_slice")
  /** Session setups per invocation; `setup_s` adds their median to the
    * warm-up that follows.
    */
  val SetupReps = 3
  /** Per workload: untimed warm-up runs, and the nominal length of a
    * timed run, which turns `--seconds` into a fixed number of timed runs
    * (at least 3). The JIT keeps settling for several runs: etl_full
    * walls go 8.6–9.6 / 5.0–5.5 / 4.4–4.7 / 3.7–4.5 / 3.5–4.9 and reach
    * their steady 3.4–3.9 s at the sixth run; etl_year_slice walls go
    * 5.4–7 / 2.8 / 2.5–3.1 / 2.3–3.1 / 2.1–2.8 and reach their steady
    * 2.0–2.2 s at the sixth run. With these warm-up counts every timed run
    * is on the flat part, and a fixed sequence keeps every invocation's
    * timed runs at the same point of that curve; a time-based loop would
    * not.
    */
  final case class Pace(warmupRuns: Int, nominalRunS: Double) {
    def timedRuns(seconds: Double): Int = math.max(3, (seconds / nominalRunS).toInt)
  }
  val Paces: Map[String, Pace] = Map(
    "etl_full" -> Pace(warmupRuns = 6, nominalRunS = 3.0),
    "etl_year_slice" -> Pace(warmupRuns = 5, nominalRunS = 2.5))

  private val nproc = Runtime.getRuntime.availableProcessors()

  def newSession(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stopSession(spark: SparkSession): Unit = {
    Leases.releaseAll()
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Driver heap retained after a full collection, in MB. */
  def heapAfterGcMb(): Double = {
    // the second collection runs after Spark's cleaner has had a moment
    // to drop the state the first one made unreachable
    System.gc(); Thread.sleep(100); System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this JVM spent (all threads) while running `body`. Unlike
    * wall time it leaves out time the host takes the CPUs away.
    */
  def cpuSeconds[A](body: => A): (A, Double) = {
    val c0 = os.getProcessCpuTime
    val out = body
    (out, (os.getProcessCpuTime - c0) / 1e9)
  }

  /** The result of one invocation, before it is printed. */
  final class Result {
    var attempted = 0
    var failed = 0
    val metrics = ArrayBuffer.empty[(String, Double, String)]
    val info = ArrayBuffer.empty[(String, Any)]
    def fail(what: String): Unit = { failed += 1; System.err.println(s"[perfbench] FAILED: $what") }
    def metric(name: String, value: Double, unit: String): Unit = metrics += ((name, value, unit))
  }

  /** Compares a digest with the one recorded for the same inputs by any
    * earlier run in this checkout; records it on first sight.
    */
  def sameAsRecorded(work: Path, key: String, digest: String): Boolean = {
    val f = work.resolve("digests").resolve(key)
    Files.createDirectories(f.getParent)
    if (Files.exists(f)) Files.readString(f) == digest
    else { Files.writeString(f, digest); true }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }
      .toMap
    val work = Paths.get(opts.getOrElse("--work", ".bench_build")).toAbsolutePath
    if (args.contains("--selftest")) {
      val ok = SelfTest.run(work)
      System.out.flush()
      sys.exit(if (ok) 0 else 1)
    }
    val workload = opts.getOrElse("--workload", "")
    require(Workloads.contains(workload),
      s"unknown workload '$workload' (one of ${Workloads.mkString(", ")})")
    val seed = opts.getOrElse("--seed", "1").toLong
    val seconds = opts.getOrElse("--seconds", "10").toDouble
    val trace = opts.getOrElse("--trace", "0") == "1"

    val r = new Result
    r.info ++= Seq("workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "nproc" -> nproc,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
      "java" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION)
    new EtlWorkload(work, workload, seed, seconds, trace, r).run()

    require(r.attempted > r.failed, "no timed run succeeded")
    println(Json.obj(Seq("info" -> Json.Raw(Json.obj(r.info.toSeq)))))
    val metrics = r.metrics.map { case (n, v, u) =>
      n -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u)))
    }
    println(Json.obj(Seq("correct" -> (r.failed == 0), "attempted" -> r.attempted,
      "failed" -> r.failed, "metrics" -> Json.Raw(Json.obj(metrics.toSeq)))))
    System.out.flush()
    sys.exit(0)
  }

  /** Set-up: a fresh session plus `build` (dimension load), repeated
    * [[SetupReps]] times, keeping the last; then the warm-up.
    * `setup_s` = median session set-up + warm-up.
    */
  def setUp[S](work: Path, r: Result)(build: SparkSession => S)(warm: S => Unit)
      : (SparkSession, S) = {
    val times = ArrayBuffer.empty[Double]
    var last: (SparkSession, S) = null
    (1 to SetupReps).foreach { _ =>
      if (last != null) stopSession(last._1)
      val t0 = System.nanoTime()
      val spark = newSession(work)
      last = (spark, build(spark))
      times += secondsSince(t0)
    }
    val t0 = System.nanoTime()
    warm(last._2)
    val warmS = secondsSince(t0)
    r.info ++= Seq("setup_reps_s" -> times.toSeq, "warmup_s" -> warmS)
    r.metric("setup_s", Stats.median(times.toSeq) + warmS, "s")
    last
  }
}

object EtlWorkload {
  /** Spans of the traced ETL run, root first. */
  val Spans: Seq[String] = Seq("run", "Manifest.load", "downloadAll", "parse",
    "buildIndex", "geocode", "transform", "writeUnion")
}

final class EtlWorkload(work: Path, workload: String, seed: Long, seconds: Double,
                        trace: Boolean, r: Main.Result) {
  import Main._

  private val full = workload == "etl_full"
  private val pace = Main.Paces(workload)

  def run(): Unit = {
    val g0 = System.nanoTime()
    val corpus = Corpus.ensure(work.resolve("corpus"), seed)
    r.info += "corpus_gen_s" -> (System.nanoTime() - g0) / 1e9
    val runDir = work.resolve("run").resolve(workload)
    Corpus.deleteTree(runDir)
    val (minY, maxY) =
      if (full) (None, None) else (Some(Corpus.SliceMinYear), Some(Corpus.SliceMaxYear))

    val (spark, (counters, etl)) = setUp(work, r) { spark =>
      val etl = new Etl(spark, corpus, runDir, minY, maxY, download = full)
      // the slice re-runs one year over archives already downloaded
      if (!full) etl.fetchAll()
      (new Counters(spark), etl)
    } { case (_, etl) =>
      r.info += "warmup_wall_s_all" -> (1 to pace.warmupRuns).map { _ =>
        val t0 = System.nanoTime()
        etl.runFused(runDir.resolve("warmup"))
        (System.nanoTime() - t0) / 1e9
      }
      heapAfterGcMb() // timed runs all start from a collected heap
    }
    val exp = etl.expected
    val shape = corpus.shape
    r.info ++= Seq("volumes" -> shape.volumes, "body_pages" -> corpus.totalPages,
      "lines" -> corpus.totalLines, "archive_bytes" -> corpus.totalArchiveBytes,
      "dimension_rows" -> shape.dimensionRows, "selected_volumes" -> etl.selectedVolumes.size,
      "selected_lines" -> etl.selectedLines, "selected_archive_bytes" -> etl.selectedArchiveBytes,
      "dead_volumes" -> corpus.volumes.count(_.dead), "seeded_hit_ratio" -> exp.hitRatio)

    val walls, heaps, cpus = ArrayBuffer.empty[Double]
    val windows = ArrayBuffer.empty[Window]
    val deadLettered = ArrayBuffer.empty[Double]
    var digest: Option[String] = None
    var hitRatio = 0.0

    /** The output checks on one written output: the failed checks, the
      * hit ratio and the output digest.
      */
    def verify(out: Path): (Seq[String], Double, String) = {
      val rows = etl.readOutput(out)
      try {
        val (failures, hr) = Checks.verify(rows, etl.dimIds, exp)
        (failures, hr, Checks.outputDigest(rows))
      } finally rows.unpersist()
    }

    /** Records one output's checks; its digest must also equal the other
      * runs' and any earlier invocation's on this seed.
      */
    def check(what: String, verified: (Seq[String], Double, String)): Unit = {
      val (failures, hr, d) = verified
      hitRatio = hr
      val all = failures ++
        Option.when(digest.exists(_ != d))(s"digest $d != earlier run ${digest.get}") ++
        Option.when(!sameAsRecorded(work, s"$workload-${shape.key}-s$seed", d))(
          s"digest $d differs from an earlier invocation on this seed")
      if (all.nonEmpty) r.fail(s"$what: ${all.mkString("; ")}")
      else if (digest.isEmpty) digest = Some(d)
    }

    // timed runs back to back, each into its own directory; the outputs
    // are checked after the loop so checking does not perturb the timing
    val outs = ArrayBuffer.empty[Path]
    (1 to pace.timedRuns(seconds)).foreach { i =>
      val out = runDir.resolve(s"out-$i")
      try {
        val ((dead, w), cpu) = cpuSeconds(counters.measure(etl.runFused(out)))
        walls += w.wallMs / 1e3
        cpus += cpu
        windows += w
        deadLettered += dead
        outs += out
      } catch { case e: Exception => r.attempted += 1; r.fail(s"run $i threw $e") }
      heaps += heapAfterGcMb()
    }
    require(walls.nonEmpty, "every timed run threw")
    // the checks are small Spark jobs bound by scheduling latency, so the
    // outputs are verified side by side and the results recorded in order
    val c0 = System.nanoTime()
    val verified = outs.map(out => Future(verify(out))(ExecutionContext.global))
    outs.zip(verified).foreach { case (out, v) =>
      r.attempted += 1
      try check(out.getFileName.toString, Await.result(v, Duration.Inf))
      catch { case e: Exception => r.fail(s"${out.getFileName} check threw $e") }
      Corpus.deleteTree(out)
    }
    r.info += "check_s" -> (System.nanoTime() - c0) / 1e9
    val wall = Stats.median(walls.toSeq)
    r.metric("wall_s", wall, "s")
    r.metric("lines_per_s", etl.selectedLines / wall, "1/s")
    r.metric("driver_heap_mb", Stats.median(heaps.toSeq), "MB")
    r.metric("cpu_s", Stats.median(cpus.toSeq), "s")
    r.info ++= Seq("runs" -> walls.size, "wall_s_all" -> walls.toSeq, "cpu_s_all" -> cpus.toSeq,
      "driver_only_ms_all" -> windows.map(_.driverOnlyMs).toSeq,
      "widest_task_ms_all" -> windows.map(_.widestTaskMs).toSeq,
      "gc_ms_all" -> windows.map(_.gcMs).toSeq, "heap_mb_all" -> heaps.toSeq,
      "digest" -> digest.getOrElse(""))

    if (trace) {
      r.metrics.clear()
      val tr = new Tracer(s"$workload-s$seed")
      r.attempted += 1
      val tw = try {
        val t0 = System.nanoTime()
        etl.runTraced(runDir.resolve("out-traced"), tr, Some(counters))
        val ms = (System.nanoTime() - t0) / 1e6
        check("traced run", verify(runDir.resolve("out-traced")))
        ms
      } catch { case e: Exception => r.fail(s"traced run threw $e"); Double.NaN }
      // archive bytes the parse step reads when the steps run apart, for
      // comparison with the fused run's bytes_read_ratio
      r.info += "bytes_read_ratio_parse_step" ->
        tr.counter("parse", "spark.input_bytes") / etl.selectedArchiveBytes
      tr.write(work.resolve("traces").resolve(s"$workload-s$seed.json"), r.info.toSeq)
      val span = (s: String) => tr.totalMs(s)
      r.metric("sources.Download.wall_ms", span("downloadAll"), "ms")
      r.metric("sources.Download.dead_lettered", Stats.median(deadLettered.toSeq), "count")
      r.metric("sources.Manifest.parse_ms", span("Manifest.load"), "ms")
      r.metric("sources.HocrArchive.bytes_read_ratio",
        Stats.median(windows.map(_.inputBytes.toDouble).toSeq) / etl.selectedArchiveBytes, "ratio")
      r.metric("geocode.Geocoder.build_index_ms", span("buildIndex"), "ms")
      r.metric("geocode.Geocoder.hit_ratio", hitRatio, "ratio")
      Seq("parse", "geocode", "transform", "writeUnion").foreach { s =>
        r.metric(s"CityDirectories.$s.step_ms", span(s), "ms")
      }
      r.metric("CityDirectories.writeUnion.bytes_written", etl.bytesWritten(runDir.resolve("out-traced")).toDouble, "bytes")
      EtlWorkload.Spans.foreach(s => r.metric(s"trace.$s.self_ms", tr.selfMs(s), "ms"))
      r.metric("trace.overhead_pct", if (tw.isNaN) 0.0 else (tw / 1e3 / wall - 1) * 100, "%")
      Kernels.run(work.resolve("kernel-sample")).foreach(k => r.metric(k.name, k.perUnit, k.unit))
      Stats.medianWindow(windows.toSeq).foreach { case (n, v, u) => r.metric(n, v, u) }
      // half of the iterative lane set rides each traced run (see Lanes)
      Lanes.measure(spark, counters, work, seed, Lanes.ByWorkload(workload), r)
      r.metric("error_rate", r.failed.toDouble / r.attempted, "ratio")
    }
    stopSession(spark)
  }
}
