package perfbench

import scala.jdk.CollectionConverters._

/** Minimal JSON writing for the result line and the trace file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  /** Values are already JSON. */
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}

/** Names of the spans the workloads open around their calls. */
object SpanNames {
  val TablesLoad = "tables.load"
  val QueryBuild = "queries.build"
  val CatalystPlan = "catalyst.plan"
  val ExecRun = "exec.run"
  val RunHour = "pipeline.run_hour"
}

/** Per-layer metrics derived from a traced run, all per operation (one
  * query or one `runHour` call). */
object Layers {
  /** Source files whose Spark jobs are counted by call site. */
  val Sites: Seq[String] =
    Seq("Tables", "TxTable", "CommitStore", "Interpolate", "Validation", "FactPipeline")

  /** Self time of every span: its duration minus the part its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil).map(k => (k.startUs, k.endUs)), s.startUs, s.endUs)
      s.id -> (s.endUs - s.startUs - covered) / 1e6
    }.toMap
  }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def union(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter { case (a, b) => b > a }
      .sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) {
          if (curE > curS) total += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
    if (curE > curS) total += curE - curS
    total
  }

  def metrics(t: Tracer, cores: Int): Seq[(String, Double, String)] = {
    val spans = t.spans.toSeq
    val byId = spans.map(s => s.id -> s).toMap
    val roots = spans.filter(s => s.parent == -1 && s.name.startsWith("op:"))
    val n = math.max(roots.size, 1).toDouble
    val self = selfTimes(spans)
    val jobs = t.jobs.values.asScala.toSeq.filter(j => byId.contains(j.span) && j.endMs >= 0)
    def layerOf(j: JobRec) = byId(j.span).name
    def selfS(name: String) = spans.filter(_.name == name).map(s => self(s.id)).sum / n
    def jobsIn(name: String) = jobs.filter(layerOf(_) == name)
    val execJobs = jobsIn(SpanNames.ExecRun)
    val execStages = execJobs.flatMap(_.stages).distinct.flatMap(s => Option(t.stages.get(s)))
    val execS = selfS(SpanNames.ExecRun)
    val taskS = execStages.map(_.runMs).sum / 1000.0 / n
    val gap = roots.map { r =>
      val mine = jobs.filter(j => byId(j.span).op == r.op).map(j => (j.startMs * 1000, j.endMs * 1000))
      (r.endUs - r.startUs - union(mine, r.startUs, r.endUs)) / 1e6
    }.sum / n
    val batches = t.batches.asScala.toSeq.filter(b =>
      roots.exists(r => b.timeMs * 1000 >= r.startUs && b.timeMs * 1000 <= r.endUs))
    def batchS(key: String) = batches.map(_.durationsMs.getOrElse(key, 0L)).sum / 1000.0 / n
    val perSite = Sites.flatMap { f =>
      val js = jobs.filter(t.siteOf(_) == f)
      Seq((s"site.$f.jobs", js.size / n, "jobs/op"),
        (s"site.$f.job_s", js.map(j => j.endMs - j.startMs).sum / 1000.0 / n, "s/op"))
    }
    Seq(
      ("tables.load_s", selfS(SpanNames.TablesLoad), "s/op"),
      ("tables.load_jobs", jobsIn(SpanNames.TablesLoad).size / n, "jobs/op"),
      ("queries.build_s", selfS(SpanNames.QueryBuild), "s/op"),
      ("queries.build_jobs", jobsIn(SpanNames.QueryBuild).size / n, "jobs/op"),
      ("catalyst.plan_s", selfS(SpanNames.CatalystPlan), "s/op"),
      ("exec.run_s", execS, "s/op"),
      ("exec.jobs", execJobs.size / n, "jobs/op"),
      ("exec.stages", execStages.size / n, "stages/op"),
      ("exec.tasks", execStages.map(_.tasks).sum / n, "tasks/op"),
      ("exec.task_s", taskS, "s/op"),
      ("exec.core_util", if (execS > 0) taskS / (execS * cores) else 0.0, "ratio"),
      ("exec.shuffle_write_mb", execStages.map(_.shuffleWrite).sum / 1e6 / n, "MB/op"),
      ("exec.spill_mb", execStages.map(_.spill).sum / 1e6 / n, "MB/op"),
      ("driver.gap_s", gap, "s/op"),
      ("pipeline.hour_jobs", jobsIn(SpanNames.RunHour).size / n, "jobs/op"),
      ("streaming.batches", batches.size / n, "batches/op"),
      ("streaming.trigger_s", batchS("triggerExecution"), "s/op"),
      ("streaming.add_batch_s", batchS("addBatch"), "s/op"),
      ("streaming.wal_commit_s", batchS("walCommit"), "s/op"),
      ("streaming.planning_s", batchS("queryPlanning"), "s/op")
    ) ++ perSite
  }

  /** Bytes written by the tasks of jobs under spans named `name`. */
  def bytesWritten(t: Tracer, name: String): Long = {
    val ids = t.spans.filter(_.name == name).map(_.id).toSet
    t.jobs.values.asScala.filter(j => ids(j.span)).flatMap(_.stages).toSeq.distinct
      .flatMap(s => Option(t.stages.get(s))).map(_.written).sum
  }
}
