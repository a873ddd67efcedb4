package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import javax.management.NotificationEmitter
import javax.management.openmbean.CompositeData
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The benchmark process: one workload, one session, one closed-loop
  * client thread.
  *
  * {{{
  * Main --workload <hourly_etl|query_mix> --seed <n> --seconds <s>
  *      --trace <0|1> --root <checkout> --work <scratch dir> --out <results dir>
  *      [--commit <id>]
  * }}}
  *
  * Prints a context line, then the result line
  * `{"correct":…,"attempted":…,"failed":…,"metrics":{…}}` last. With
  * `--trace 0` the metrics are the end-to-end ones. With `--trace 1` the
  * same segment runs once untraced and once traced, and the metrics are
  * the per-layer ones derived from the traced segment's spans.
  */
object Main {
  /** Input preparations per run; `setup_s` counts their median. */
  val PrepareReps = 3
  val Workloads = Seq("hourly_etl", "query_mix")
  /** Basket size per query family of `query_mix`. */
  val Basket = Seq("analytics" -> 4, "tx_streams" -> 2)
  val DataDir = "perfbench/data/sf0.1"
  val ExpectedFile = "perfbench/expected.tsv"

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      root: Path, work: Path, out: Path, commit: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") match {
        case "0" => false
        case "1" => true
        case o => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $o")
      },
      Paths.get(need("root")).toAbsolutePath, Paths.get(need("work")).toAbsolutePath,
      Paths.get(need("out")).toAbsolutePath, m.getOrElse("commit", "unknown"))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  /** The session `graft.Bench` measures with. */
  def session(work: Path): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The registered queries by family: the 151 analytical ones, and the
    * 39 that commit to TxTables or replay streams while they are built. */
  def queryFamilies: Map[String, Map[String, graft.queries.Q]] = {
    import graft.queries._
    Map(
      "analytics" -> (Relational.all ++ Gold.all ++ Analytics.all ++ Mining.all ++
        Text.all ++ Vector.all ++ Corpus.all ++ Multimodal.all),
      "tx_streams" -> (Maintenance.all ++ Streams.all))
  }

  /** Bench's fixed LCG loops, shortened: single-thread and one thread
    * per core. Host contention shows in these, not in the program. */
  def calib(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { i =>
      new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + i
        var k = 0
        while (k < 50000000) { x = x * 6364136223846793005L + 1442695040888963407L; k += 1 }
        if (x == 42) print("")
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Peak old-generation occupancy after any collection, from the
    * collectors' notifications. Per-layer only: from run to run it moves
    * with when the collector happens to run (0.55 interquartile spread
    * over five `hourly_etl` seeds), too far for an end-to-end bound. */
  object Heap {
    @volatile private var peak = 0L
    private var installed = false
    def reset(): Unit = {
      if (!installed) {
        installed = true
        ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach { gc =>
          gc.asInstanceOf[NotificationEmitter].addNotificationListener((n, _) =>
            if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
              val old = info.getGcInfo.getMemoryUsageAfterGc.asScala
                .collect { case (pool, u) if pool.contains("Old") || pool.contains("Tenured") => u.getUsed }.sum
              synchronized { if (old > peak) peak = old }
            }, null, null)
        }
      }
      synchronized { peak = 0L }
    }
    /** Ends with one full collection, so the live set is always sampled. */
    def peakMb(): Double = {
      System.gc()
      Thread.sleep(200) // notifications are delivered asynchronously
      val p: Long = synchronized(peak)
      p / 1e6
    }
  }

  final case class Segment(ops: Seq[OpResult], errors: Seq[String], failed: Int,
      wallS: Double, heapMb: Double) {
    /** A failed operation misses every latency limit. */
    def latencies: Seq[Double] = ops.map(o => if (o.ok) o.seconds else Double.PositiveInfinity)
    def kindLatencies: Seq[(String, Double)] = ops.map(_.kind).zip(latencies)
  }

  def segment(w: Workload, t: Tracer, seconds: Int): Segment = {
    w.reset()
    Heap.reset()
    val ops = ArrayBuffer[OpResult]()
    val errors = ArrayBuffer[String]()
    var failedOps = 0
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (w.hasNext && (elapsed < seconds || w.midCycle)) {
      val r = w.next(t)
      ops += r
      if (!r.ok) failedOps += 1
      r.error.foreach(errors += _)
    }
    val wall = elapsed
    val checks = w.finish(t)
    errors ++= checks
    Segment(ops.toSeq, errors.toSeq, math.min(ops.size, failedOps + checks.size), wall, Heap.peakMb())
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val nproc = Runtime.getRuntime.availableProcessors()
    val calibBefore = (calib(1), calib(nproc))
    Files.createDirectories(a.work)
    val (spark, sessionS) = Workload.timed(session(a.work))
    try {
      val dataDir = a.root.resolve(DataDir).toString
      val w: Workload = a.workload match {
        case "hourly_etl" => new HourlyEtl(spark, a.work, a.seed, a.seconds)
        case _ =>
          val fns = queryFamilies.values.flatten.map { case (k, q) => k -> q.fn }.toMap
          val exp = Expected.load(a.root.resolve(ExpectedFile))
          val basket = Basket.flatMap { case (family, k) =>
            QueryMix.stratified(exp.filter(_.family == family), k) }.toIndexedSeq
          new QueryMix(spark, dataDir, fns, basket, a.seed)
      }
      val prepares = (1 to PrepareReps).map(_ => Workload.timed(w.prepare())._2)
      val warmUpS = Workload.timed(w.warmUp())._2
      val setupS = sessionS + Stats.median(prepares) + warmUpS

      val plain = segment(w, Tracer.Off, a.seconds)
      val traced = if (!a.trace) None else {
        val t = new Tracer(spark, enabled = true)
        val s = segment(w, t, a.seconds)
        t.stop()
        Some((s, t))
      }
      val calibAfter = (calib(1), calib(nproc))
      val segs = plain +: traced.map(_._1).toSeq
      val attempted = segs.map(_.latencies.size).sum
      val failed = segs.map(_.failed).sum
      val correct = failed == 0 && attempted > 0

      def m(name: String, v: Double, unit: String) = name -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))
      val metrics = traced match {
        case None => Seq(
          m("setup_s", setupS, "s"),
          m("op_p50_gmean_s", Stats.kindMedianGmean(plain.kindLatencies), "s"),
          m("ops_per_min", plain.latencies.size / plain.wallS * 60, "1/min"))
        case Some((s, t)) =>
          // same operations, same order: compare the common prefix
          val k = math.min(plain.latencies.size, s.latencies.size)
          val overhead = s.latencies.take(k).sum / plain.latencies.take(k).sum - 1
          val layers = Layers.metrics(t, nproc) ++ w.extraMetrics(t) ++ Seq(
            ("heap.peak_mb", s.heapMb, "MB"), ("trace.overhead_frac", overhead, "ratio"))
          val selfByLayer = {
            val self = Layers.selfTimes(t.spans.toSeq)
            t.spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(x => self(x.id)).sum }
          }
          t.write(a.out.resolve(s"trace-${a.workload}-${a.seed}.json"),
            w.notes ++ selfByLayer.toSeq.sortBy(_._1).map { case (n, v) => f"self time $n: $v%.4f s" })
          layers.map { case (n, v, u) => m(n, v, u) }
      }

      val tail = Stats.tail(plain.latencies, 0.9)
      val fixtures = graft.Fixtures.fingerprintJson(spark, dataDir)
      val context = Json.obj(Seq(
        "workload" -> Json.str(a.workload), "seed" -> a.seed.toString, "seconds" -> a.seconds.toString,
        "trace" -> (if (a.trace) "1" else "0"), "nproc" -> nproc.toString, "commit" -> Json.str(a.commit),
        "spark" -> Json.str(spark.version), "java" -> Json.str(System.getProperty("java.version")),
        "calib_s_before" -> Json.num(calibBefore._1), "calib_mt_s_before" -> Json.num(calibBefore._2),
        "calib_s_after" -> Json.num(calibAfter._1), "calib_mt_s_after" -> Json.num(calibAfter._2),
        "session_s" -> Json.num(sessionS), "prepare_s" -> prepares.map(Json.num).mkString("[", ",", "]"),
        "warm_up_s" -> Json.num(warmUpS),
        "ops" -> plain.latencies.size.toString, "wall_s" -> Json.num(plain.wallS),
        "op_p90_s" -> tail.map(Json.num).getOrElse("null"),
        "ops_s" -> plain.ops.map(o => s"[${Json.str(o.name)},${Json.num(o.seconds)}]").mkString("[", ",", "]"),
        "errors" -> segs.flatMap(_.errors).take(20).map(Json.str).mkString("[", ",", "]"),
        "fixtures" -> fixtures))
      val result = Json.obj(Seq("correct" -> correct.toString, "attempted" -> attempted.toString,
        "failed" -> failed.toString, "metrics" -> Json.obj(metrics)))
      Files.createDirectories(a.out)
      Files.writeString(a.out.resolve(s"result-${a.workload}-${a.seed}-${if (a.trace) 1 else 0}.json"),
        Json.obj(Seq("context" -> context, "result" -> result)))
      println(Json.obj(Seq("context" -> context)))
      println(result)
    } finally spark.stop()
  }
}
