package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.lake.LakeTable

/** A benchmark workload: a closed loop with one client, over inputs made
 *  from the run's seed. A workload object lives for one set-up. */
trait Workload {
  /** Generate the inputs under `dir` and bootstrap the tables; returns the
   *  bootstrap's seconds, from generated inputs to complete tables. */
  def setup(dir: Path): Double

  /** One operation of the loop; it reports its timings through [[Run]]. */
  def step(i: Int): Unit

  /** Compare the final output with an independent recomputation. */
  def check(): Unit

  /** The tables whose live files count as the workload's disk use. */
  def tables: Seq[LakeTable]

  /** Bytes of generated input the engine received. */
  def inputBytes: Long

  /** Per-layer counts the workload measured outside its timed windows. */
  def counts: Map[String, Double]

  /** Loop steps run before timing starts, until the JIT has compiled the
   *  loop's own paths (set-up does not run them). */
  def warmUpSteps: Int

  /** Steps of the loop's repeating mix of operations; the timed loop runs
   *  whole cycles, so every run samples the same mix. */
  def cycleSteps: Int
}

object Workload {
  def apply(name: String, run: Run): Workload = name match {
    case "medallion_cdc" => new MedallionCdc(run)
    case "lake_point_mixed" => new LakePointMixed(run)
  }
}

/** State shared by a run's workload and the driver loop: the session, the
 *  tracer of a traced run, timing samples and the operation tally. */
final class Run(val spark: SparkSession, val seed: Long, val cores: Int,
    val tracer: Option[Tracer]) {
  val reads = mutable.ArrayBuffer[Sample]()
  val writes = mutable.ArrayBuffer[Sample]()
  var attempted = 0L
  var failed = 0L

  def traced: Boolean = tracer.exists(_.active)

  def span[A](name: String)(body: => A): A = tracer.fold(body)(_.span(name)(body))

  /** Off while warming up: operations still count and are checked, but
   *  their timings are not samples. */
  var sampling = true

  def read(seconds: Double, kind: String): Unit = {
    attempted += 1
    if (sampling) reads += Sample(seconds, kind, 0L)
  }

  def write(seconds: Double, kind: String, rows: Long): Unit = {
    attempted += 1
    if (sampling) writes += Sample(seconds, kind, rows)
  }

  /** Rows made visible per second of write time, for one write of each
   *  kind at its median latency and median row count, so that runs that
   *  end at different points of a workload's write cycle compare. */
  def rowsPerSecond: Double = {
    val byKind = writes.groupBy(_.kind).values
    byKind.map(w => Stats.median(w.map(_.rows.toDouble).toSeq)).sum /
      byKind.map(w => Stats.median(w.map(_.seconds).toSeq)).sum
  }

  /** The output of an operation already counted as attempted was wrong. */
  def verify(ok: Boolean, what: => String): Unit =
    if (!ok) { failed += 1; System.err.println(s"[perfbench] mismatch: $what") }

  /** A final output check: one attempted operation of its own. */
  def check(ok: Boolean, what: => String): Unit = { attempted += 1; verify(ok, what) }
}

/** One timed operation: its wall seconds, its kind and the rows it made
 *  visible. */
final case class Sample(seconds: Double, kind: String, rows: Long)

/**
 * Benchmark driver. Usage:
 * {{{
 *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <dir>
 * }}}
 * Starts one `local[N]` session (N = min(4, cores)), sets the workload up
 * [[SetupReps]] times, runs whole cycles of its loop for at least
 * `--seconds`, checks its output and prints the result as the last line of
 * standard output. A traced run then
 * sets the workload up once more and runs the same loop steps untraced, to
 * measure what tracing costs. Everything it writes goes under `--work`,
 * which it removes; a traced run also leaves its spans under `--out`.
 */
object Main {
  /** Set-ups per run; `setup_s` is their median, so the first one's JIT
   *  warm-up does not decide it, and `cold_setup_s` is the first alone. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val out = Paths.get(opts("out")).toAbsolutePath
    Files.createDirectories(work)

    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val (spark, sessionS) = timedS {
      SparkSession.builder().master(s"local[$cores]").appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (trace) Some(new Tracer(spark.sparkContext)) else None
    val run = new Run(spark, seed, cores, tracer)

    val lines = mutable.ArrayBuffer[String]()
    var metrics = Seq.empty[(String, Double, String)]
    try {
      tracer.foreach(_.active = true)
      val setups = (1 to SetupReps).map { i =>
        val w = Workload(workload, run)
        val dir = work.resolve(s"setup-$i")
        val (build, total) = timedS(run.span("setup")(w.setup(dir)))
        (w, dir, total, build)
      }
      setups.init.foreach { case (_, dir, _, _) => deleteTree(dir) }
      val w = setups.last._1

      def step(w: Workload, i: Int): Unit =
        try w.step(i)
        catch {
          case NonFatal(e) =>
            run.attempted += 1; run.failed += 1
            System.err.println(s"[perfbench] step $i failed: $e")
            e.printStackTrace()
        }
      def warmUp(w: Workload): Unit = {
        run.sampling = false
        (0 until w.warmUpSteps).foreach(step(w, _))
        run.sampling = true
      }
      /** Run loop steps after the warm-up while `more(steps, nanos)` holds;
       *  returns the steps run and their wall seconds. */
      def loop(w: Workload)(more: (Int, Long) => Boolean): (Int, Double) = {
        var steps = 0
        val t0 = System.nanoTime()
        while (more(steps, System.nanoTime() - t0)) {
          step(w, w.warmUpSteps + steps)
          steps += 1
        }
        (steps, (System.nanoTime() - t0) / 1e9)
      }
      tracer.foreach(_.active = false)
      warmUp(w)
      // disk use after a fixed amount of work, not after however many steps
      // the loop gets through
      val diskRatio = w.tables.map(_.detail.sizeInBytes).sum.toDouble / w.inputBytes

      tracer.foreach(_.active = true)
      val (steps, loopS) = loop(w)((n, ns) => ns < seconds * 1e9 || n % w.cycleSteps != 0)
      tracer.foreach { t => t.active = false; t.finish() }

      w.check()
      val reads = run.reads.map(_.seconds).toSeq
      val writes = run.writes.map(_.seconds).toSeq
      val details = w.tables.map(_.detail)
      val liveBytes = details.map(_.sizeInBytes).sum.toDouble
      val (readTailP, readTail) = Stats.tail(reads)
      val (writeTailP, writeTail) = Stats.tail(writes)
      lines += f"workload $workload seed $seed: $SetupReps set-ups, ${w.warmUpSteps} warm-up steps, " +
        f"$steps loop steps in $loopS%.2f s, local[$cores]"
      lines += s"read samples ${reads.size} (tail = p$readTailP), write samples ${writes.size} (tail = p$writeTailP)"
      lines += f"session_start_s $sessionS%.3f, cold set-up ${sessionS + setups.head._3}%.3f s, set-up totals ${setups.map(s => f"${s._3}%.2f").mkString(" ")} s, builds ${setups.map(s => f"${s._4}%.2f").mkString(" ")} s"

      metrics = tracer match {
        case None => Seq(
          ("setup_s", sessionS + Stats.median(setups.map(_._3)), "s"),
          ("cold_setup_s", sessionS + setups.head._3, "s"),
          ("read_p50_s", Stats.median(reads), "s"),
          ("read_tail_s", readTail, "s"),
          ("write_p50_s", Stats.median(writes), "s"),
          ("write_tail_s", writeTail, "s"),
          ("rows_per_s", run.rowsPerSecond, "1/s"),
          ("disk_bytes_per_input_byte", diskRatio, "ratio"),
          ("peak_rss_mb", peakRssMb(), "MB"))
        case Some(t) =>
          val counts = w.counts ++ Map(
            "lake.files_live" -> details.map(_.numFiles).sum.toDouble,
            "lake.bytes_live" -> liveBytes,
            "lake.dv_count" -> details.map(_.deletionVectors).sum.toDouble)
          // the same steps again on a fresh set-up, untraced: the traced
          // loop's wall time over this one's is what tracing costs,
          // bookkeeping of traced steps included (this loop runs on a
          // warmer JIT, which can only overstate the cost)
          val plain = Workload(workload, run)
          plain.setup(work.resolve("plain"))
          warmUp(plain)
          run.sampling = false
          val (_, plainS) = loop(plain)((n, _) => n < steps)
          plain.check()
          val overheadPct = 100.0 * (loopS / plainS - 1.0)
          val layer = Layers.metrics(t, cores, steps, counts + ("trace.overhead_pct" -> overheadPct))
          lines += f"traced loop $loopS%.3f s, the same $steps steps untraced $plainS%.3f s: " +
            f"tracing overhead $overheadPct%.1f%%"
          val refresh = layer.collectFirst { case ("pipeline.refresh_s", v, _) => v }.getOrElse(0.0)
          if (refresh > 0) {
            val driver = layer.collectFirst { case ("pipeline.driver_s", v, _) => v }.get
            val jobs = refresh - driver
            lines += f"refresh carried by ${if (driver >= jobs) "pipeline.driver_s" else "spark jobs"}: " +
              f"driver $driver%.3f s vs Spark-job-covered ${jobs}%.3f s of a $refresh%.3f s refresh"
          }
          writeTrace(out.resolve(s"trace-$workload-seed$seed.json"), t, layer)
          lines += s"spans and jobs written to ${out.resolve(s"trace-$workload-seed$seed.json")}"
          layer
      }
      lines += f"ops_failed_ratio ${run.failed.toDouble / math.max(1L, run.attempted)}%.6f (${run.failed} of ${run.attempted})"
    } finally {
      spark.stop()
      deleteTree(work)
    }
    lines.foreach(l => println(s"[perfbench] $l"))
    metrics.foreach { case (n, v, u) => println(f"[perfbench] $n%-32s $v%.6f $u") }
    val failed = math.min(run.failed, run.attempted)
    println(s"""{"correct": ${failed == 0 && run.attempted > 0}, "attempted": ${run.attempted}, """ +
      s""""failed": $failed, "metrics": {""" +
      metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
        .mkString(", ") + "}}")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else v.toString

  /** Run `body`; returns its result and its wall seconds. */
  def timedS[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** The JVM's peak resident set (`VmHWM`), in MiB. */
  private def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")), StandardCharsets.UTF_8)
    status.linesIterator.collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    } finally s.close()
  }

  private def writeTrace(file: Path, t: Tracer, layer: Seq[(String, Double, String)]): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val sb = new StringBuilder("{\"metrics\": {")
    sb ++= layer.map { case (n, v, u) => s"${q(n)}: {\"value\": ${num(v)}, \"unit\": ${q(u)}}" }.mkString(", ")
    sb ++= "},\n\"spans\": [\n"
    sb ++= t.spans.map(s => s"""{"id": ${s.id}, "name": ${q(s.name)}, "parent": ${s.parent}, "start_ns": ${s.start}, "end_ns": ${s.end}}""").mkString(",\n")
    sb ++= "],\n\"jobs\": [\n"
    sb ++= t.jobs.values.map(j => s"""{"job": ${j.jobId}, "span": ${j.span}, "start_ns": ${j.start}, "end_ns": ${j.end}, "tasks": ${j.tasks}, "failed_tasks": ${j.failedTasks}, "executor_run_ms": ${j.runMs}, "executor_cpu_ns": ${j.cpuNs}, "gc_ms": ${j.gcMs}, "shuffle_write_bytes": ${j.shuffleWrite}, "shuffle_read_bytes": ${j.shuffleRead}, "input_bytes": ${j.inputBytes}, "output_bytes": ${j.outputBytes}}""").mkString(",\n")
    sb ++= "]}\n"
    Files.createDirectories(file.getParent)
    Files.write(file, sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}
