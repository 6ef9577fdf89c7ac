package perfbench

/**
 * Per-layer metrics of a traced run, from the spans the workloads record
 * around their calls into the engine and the Spark jobs under them. Layer
 * span names are `<layer>.<function>`; operation spans are `op.<kind>` and
 * the set-up span is `setup`. Times and counts are per call of the named
 * function, or per loop step for the `spark` layer. The `gold` layer
 * is called only while setting up, so its metrics cover the set-ups; every
 * other layer's cover the loop. Layers a workload does not call report 0.
 * `trace.overhead_pct` comes in through `counts`. Which end-to-end metric
 * each should move is in `perfbench/README.md`.
 */
object Layers {
  private def s(ns: Double) = ns / 1e9

  def metrics(t: Tracer, cores: Int, steps: Int,
      counts: Map[String, Double]): Seq[(String, Double, String)] = {
    val byId = t.spans.map(x => x.id -> x).toMap
    val kids = t.spans.groupBy(_.parent)
    val jobsOf = t.jobs.values.filter(_.end >= 0).groupBy(_.span)
    def root(x: Span): Span = byId.get(x.parent).fold(x)(root)
    def inLoop(x: Span) = root(x).name.startsWith("op.")
    def calls(name: String, loop: Boolean) =
      t.spans.filter(x => x.name == name && inLoop(x) == loop).toSeq
    def self(x: Span): Double = Tracer.selfTime(x,
      kids.getOrElse(x.id, Nil).map(c => (c.start, c.end)).toSeq ++
        jobsOf.getOrElse(x.id, Nil).map(j => (j.start, j.end))).toDouble
    def under(x: Span): Seq[JobRec] =
      jobsOf.getOrElse(x.id, Nil).toSeq ++ kids.getOrElse(x.id, Nil).flatMap(under)
    def mean(xs: Seq[Span], f: Span => Double) =
      if (xs.isEmpty) 0.0 else xs.map(f).sum / xs.size
    def dur(xs: Seq[Span]) = s(mean(xs, _.dur.toDouble))
    def selfS(xs: Seq[Span]) = s(mean(xs, self))
    def count(k: String) = counts.getOrElse(k, 0.0)

    val refresh = calls("pipeline.refresh", loop = true)
    val refreshJobs = refresh.flatMap(under)
    val goldSetup = Seq("gold.mint", "gold.build_fact").flatMap(calls(_, loop = false))
    val lakeWrites = Seq("lake.merge", "lake.append", "lake.delete").flatMap(calls(_, loop = true))
    val loopJobs = t.spans.filter(x => x.parent == 0 && inLoop(x)).flatMap(under).toSeq
    val jobWall = Tracer.covered(Long.MinValue, Long.MaxValue,
      loopJobs.map(j => (j.start, j.end))).toDouble
    val runMs = loopJobs.map(_.runMs).sum.toDouble
    val perStep = 1.0 / math.max(1, steps)
    def jobSum(f: JobRec => Long) = loopJobs.map(f).sum.toDouble * perStep

    Seq(
      ("pipeline.refresh_s", dur(refresh), "s"),
      ("pipeline.driver_s", selfS(refresh), "s"),
      ("pipeline.driver_share",
        if (refresh.isEmpty) 0.0 else refresh.map(self).sum / refresh.map(_.dur).sum, "ratio"),
      ("pipeline.jobs", if (refresh.isEmpty) 0.0 else refreshJobs.size.toDouble / refresh.size, "count"),
      ("pipeline.tasks", if (refresh.isEmpty) 0.0 else refreshJobs.map(_.tasks).sum.toDouble / refresh.size, "count"),
      ("pipeline.commits", count("pipeline.commits"), "count"),
      ("pipeline.flow_rows", count("pipeline.flow_rows"), "count"),
      ("ingest.run_s", dur(calls("ingest.run", loop = true)), "s"),
      ("ingest.rows", count("ingest.rows"), "count"),
      ("ingest.files", count("ingest.files"), "count"),
      ("spark.job_wall_s", s(jobWall) * perStep, "s"),
      ("spark.executor_run_s", runMs / 1e3 * perStep, "s"),
      ("spark.executor_cpu_s", s(jobSum(_.cpuNs)), "s"),
      ("spark.gc_s", jobSum(_.gcMs) / 1e3, "s"),
      ("spark.shuffle_write_bytes", jobSum(_.shuffleWrite), "B"),
      ("spark.shuffle_read_bytes", jobSum(_.shuffleRead), "B"),
      ("spark.input_bytes", jobSum(_.inputBytes), "B"),
      ("spark.output_bytes", jobSum(_.outputBytes), "B"),
      ("spark.jobs", loopJobs.size * perStep, "count"),
      ("spark.core_util", if (jobWall <= 0) 0.0 else runMs * 1e6 / (jobWall * cores), "ratio"),
      ("spark.task_failures", loopJobs.map(_.failedTasks).sum.toDouble, "count"),
      ("gold.mint_s", dur(calls("gold.mint", loop = false)), "s"),
      ("gold.build_fact_s", dur(calls("gold.build_fact", loop = false)), "s"),
      ("gold.driver_s", selfS(goldSetup), "s"),
      ("lake.merge_s", dur(calls("lake.merge", loop = true)), "s"),
      ("lake.append_s", dur(calls("lake.append", loop = true)), "s"),
      ("lake.delete_s", dur(calls("lake.delete", loop = true)), "s"),
      ("lake.driver_s", selfS(lakeWrites), "s"),
      ("lake.commits", count("lake.commits"), "count"),
      ("lake.files_added_per_commit", count("lake.files_added_per_commit"), "count"),
      ("lake.dv_count", count("lake.dv_count"), "count"),
      ("lake.compactions", count("lake.compactions"), "count"),
      ("lake.read_s", dur(calls("lake.read", loop = true)), "s"),
      ("lake.files_kept_ratio", count("lake.files_kept_ratio"), "ratio"),
      ("sql.plan_s", dur(calls("sql.plan", loop = true)), "s"),
      ("sql.exec_s", dur(calls("sql.exec", loop = true)), "s"),
      ("lake.files_live", count("lake.files_live"), "count"),
      ("lake.bytes_live", count("lake.bytes_live"), "B"),
      ("trace.overhead_pct", count("trace.overhead_pct"), "%"))
  }
}
