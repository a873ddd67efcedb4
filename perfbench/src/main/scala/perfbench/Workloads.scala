package perfbench

import graft.Tables
import graft.io.TxTable
import graft.pipeline.FactPipeline
import graft.queries.QueryFn
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer
import scala.util.Try

/** Outcome of one operation: what ran, its kind (the unit whose median
  * latency is reported), its wall seconds, and whether it succeeded with
  * the expected output. */
final case class OpResult(name: String, kind: String, seconds: Double, ok: Boolean, error: Option[String])

/** A closed-loop workload driven by one client thread. */
trait Workload {
  /** Input generation and resolution; repeated, so set-up time is a median. */
  def prepare(): Unit
  /** Runs the session's first operations, untimed, after [[prepare]]. */
  def warmUp(): Unit
  /** Start a measured segment from the workload's initial state. */
  def reset(): Unit
  /** False once the workload's input is exhausted. */
  def hasNext: Boolean
  /** True while a segment must go on to complete its current cycle. */
  def midCycle: Boolean = false
  /** Run the next operation. */
  def next(t: Tracer): OpResult
  /** Output checks over the whole segment; each string is a failure. */
  def finish(t: Tracer): Seq[String]
  /** Workload-specific per-layer metrics of a traced segment. */
  def extraMetrics(t: Tracer): Seq[(String, Double, String)]
  def notes: Seq[String] = Nil
}

object Workload {
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def errorOf(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse("")).take(300)
}

/** `hourly_etl`: whole Tehran days replayed hour by hour through
  * `FactPipeline.runHour` into a fresh transactional warehouse. */
final class HourlyEtl(spark: SparkSession, work: Path, seed: Long, seconds: Int) extends Workload {
  import HourlyEtl._
  private val days = math.max(1, math.ceil(seconds / 1.5 / 24).toInt)
  private var input: IndexedSeq[Ticks.Hour] = IndexedSeq.empty
  private var events: DataFrame = _
  private var prepared = 0
  private var segments = 0
  private var warehouse: Path = _
  private var cursor = 0
  private var retryPending = false
  private val landed = ArrayBuffer[(Ticks.Hour, Double)]() // first attempts, with seconds
  private var filesBefore = 0L
  private val filesWritten = ArrayBuffer[Long]()

  def prepare(): Unit = {
    prepared += 1
    input = for (d <- 0 until days; h <- 0 until 24) yield Ticks.hour(seed, d, h)
    val dir = work.resolve(s"input-$prepared")
    val rows = new java.util.ArrayList[Row]()
    input.foreach(_.ticks.foreach(t =>
      rows.add(Row(t.eventId, new java.sql.Timestamp(t.tsMicros / 1000), t.userId, t.eventType, t.value, null))))
    spark.createDataFrame(rows, EventsSchema).repartition(spark.sparkContext.defaultParallelism)
      .write.parquet(dir.toString)
    // the extract reads the source table resolved once, as a scheduler would
    events = spark.read.schema(EventsSchema).parquet(dir.toString)
  }

  /** Lands the first [[WarmUpHours]] hours into a scratch warehouse: the
    * first hour of a fresh JVM runs ~2x slower than the later ones. */
  def warmUp(): Unit = {
    val warm = work.resolve("warm")
    input.take(WarmUpHours).foreach(hr => runHour(warm, hr, 1L).get)
    graft.queries.rmrf(warm.toString)
  }

  private def runHour(warehouse: Path, hr: Ticks.Hour, version: Long) =
    FactPipeline.runHour(spark, events, warehouse.toString, hr.dateId, hr.hour, version,
      transactional = true, vacuumRetainVersions = Some(VacuumRetainVersions),
      compactTargetBytes = Some(CompactTargetBytes))

  def reset(): Unit = {
    segments += 1
    warehouse = work.resolve(s"warehouse-$segments")
    cursor = 0
    retryPending = false
    landed.clear()
    filesWritten.clear()
    filesBefore = 0L
  }

  def hasNext: Boolean = cursor < input.size

  def next(t: Tracer): OpResult = {
    val hr = input(cursor)
    val retry = retryPending
    val (run, secs) = Workload.timed(Try(t.op("op:hour") {
      t.span(SpanNames.RunHour)(runHour(warehouse, hr, if (retry) 2L else 1L).get)
    }))
    t.settle()
    // the reference retries a failed hour once with a higher version;
    // the replay exercises that path on every sixth hour
    if (!retry && cursor % 6 == 5) retryPending = true
    else { retryPending = false; cursor += 1 }
    if (t.enabled) {
      val now = fileCount(warehouse)
      filesWritten += now - filesBefore
      filesBefore = now
    }
    val name = s"hour ${hr.dateId}/${hr.hour}" + (if (retry) " retry" else "")
    run match {
      case scala.util.Success(r) =>
        val got = Ticks.HourExpect(r.extracted, r.densifiedRows, r.gridMinutes)
        if (!retry) landed += ((hr, secs))
        if (got == hr.expect && r.dateId == hr.dateId && r.hour == hr.hour) OpResult(name, "hour", secs, ok = true, None)
        else OpResult(name, "hour", secs, ok = false, Some(s"hour ${hr.dateId}/${hr.hour}: got $got, expected ${hr.expect}"))
      case scala.util.Failure(e) => OpResult(name, "hour", secs, ok = false, Some(Workload.errorOf(e)))
    }
  }

  private def ticksLanded: Long = landed.map(_._1.expect.extracted).sum

  def finish(t: Tracer): Seq[String] = {
    if (landed.isEmpty) return Seq("no hour landed")
    def rows(table: String) =
      TxTable.snapshot(spark, warehouse.resolve(table).toString).map(_.count()).getOrElse(0L)
    val fact = rows("fact_gold_price")
    val interp = rows("fact_gold_price_interpolated")
    val wantInterp = landed.map(_._1.expect.densifiedRows).sum
    Seq(
      if (fact == ticksLanded) None else Some(s"fact_gold_price has $fact rows, expected $ticksLanded"),
      if (interp == wantInterp) None
      else Some(s"fact_gold_price_interpolated has $interp rows, expected $wantInterp")
    ).flatten
  }

  def extraMetrics(t: Tracer): Seq[(String, Double, String)] = {
    val ticks = math.max(ticksLanded, 1L).toDouble
    val files = listFiles(warehouse)
    val byHour = landed.map { case (h, s) => h.hour -> s }
    val late = byHour.collect { case (h, s) if h >= 18 => s }
    val early = byHour.collect { case (h, s) if h <= 5 => s }
    val ratio =
      if (late.nonEmpty && early.nonEmpty) Stats.median(late.toSeq) / Stats.median(early.toSeq)
      else if (byHour.size >= 2) byHour.last._2 / byHour.head._2
      else 1.0
    val versions = Seq("fact_gold_price", "fact_gold_price_interpolated")
      .map(tb => TxTable.latestVersion(spark, warehouse.resolve(tb).toString)).sum
    Seq(
      ("pipeline.late_early_ratio", ratio, "ratio"),
      ("io.bytes_written_per_tick", Layers.bytesWritten(t, SpanNames.RunHour) / ticks, "B/tick"),
      ("io.files_written", if (filesWritten.isEmpty) 0.0 else filesWritten.sum.toDouble / filesWritten.size, "files/op"),
      ("store.live_files", files.count(_.getFileName.toString.endsWith(".parquet")).toDouble, "files"),
      ("store.versions", versions.toDouble, "versions"),
      ("store.bytes_per_tick", files.map(Files.size).sum / ticks, "B/tick"))
  }

  override def notes: Seq[String] = Seq(
    s"hourly_etl: ${landed.size} hours landed, $ticksLanded ticks; " +
      "pipeline.late_early_ratio is median(hours 18-23)/median(hours 0-5) when the segment " +
      "reaches hour 18, otherwise last hour / first hour of the segment")
}

object HourlyEtl {
  val WarmUpHours = 2
  val VacuumRetainVersions = 2
  val CompactTargetBytes: Long = 8L << 20

  val EventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  def listFiles(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.filter(p => Files.isRegularFile(p)).toArray.toSeq.map(_.asInstanceOf[Path])
      finally s.close()
    }

  def fileCount(root: Path): Long = listFiles(root).size.toLong
}

/** One recorded query: its family (`analytics` or `tx_streams`), expected digest, reference
  * latency (for stratified drawing) and the fixture tables it reads. */
final case class Expected(family: String, name: String, digest: Digest, refS: Double, tables: Seq[String])

object Expected {
  def load(path: Path): Seq[Expected] =
    scala.io.Source.fromFile(path.toFile, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(w, n, d, r, t) = l.split("\t", -1)
        Expected(w, n, Digest.parse(d), r.toDouble, t.split(",").filter(_.nonEmpty).toSeq)
      }.toSeq

  def write(path: Path, rows: Seq[Expected]): Unit =
    Files.writeString(path, rows.map(e =>
      Seq(e.family, e.name, e.digest.toString, f"${e.refS}%.3f", e.tables.mkString(",")).mkString("\t"))
      .mkString("# family\tquery\trows:hash\tref_s\ttables\n", "\n", "\n"))
}

/** `query_mix`: cycles over a fixed basket of registered queries in an
  * order the seed shuffles anew for every cycle.
  *
  * A run completes too few queries to draw fresh ones from all 190 and
  * stay steady: which queries a seed drew would move the median by more
  * than any bound a regression check can use. The basket is therefore
  * fixed and stratified (see [[QueryMix.stratified]]). Warm-up runs
  * [[QueryMix.WarmUpCycles]] cycles, so the measured queries hit a warm
  * session, as in `graft.Bench`; a segment ends on a cycle boundary, so
  * every run weighs the basket's queries alike. */
final class QueryMix(
    spark: SparkSession, dataDir: String, queries: Map[String, QueryFn],
    val basket: IndexedSeq[Expected], seed: Long) extends Workload {
  private var rng: SplittableRandom = _
  private var cycle = List.empty[Expected]

  def prepare(): Unit = QueryMix.Loaders.values.foreach(load => load(spark, dataDir).schema)

  /** The first cycle compiles each query's generated code; the JIT is
    * still compiling through the second, which runs 10-50 % slower than
    * the ones after it. */
  def warmUp(): Unit = for (_ <- 1 to QueryMix.WarmUpCycles; e <- basket) {
    val r = run(e, Tracer.Off)
    if (!r.ok) throw new IllegalStateException(s"warm-up failed: ${r.error.getOrElse(e.name)}")
  }

  def reset(): Unit = {
    rng = new SplittableRandom(seed)
    cycle = Nil
  }

  def hasNext: Boolean = true
  override def midCycle: Boolean = cycle.nonEmpty

  /** The draw sequence, for tests: the first `n` queries of a segment. */
  def draws(n: Int): Seq[String] = { reset(); Seq.fill(n)(draw().name) }

  private def draw(): Expected = {
    if (cycle.isEmpty) {
      val order = basket.toArray
      for (i <- order.indices.reverse) {
        val j = rng.nextInt(i + 1)
        val tmp = order(i); order(i) = order(j); order(j) = tmp
      }
      cycle = order.toList
    }
    val e = cycle.head
    cycle = cycle.tail
    e
  }

  def next(t: Tracer): OpResult = run(draw(), t)

  private def run(e: Expected, t: Tracer): OpResult = {
    graft.ops.PlanCache.clear()
    if (t.enabled) t.span(SpanNames.TablesLoad) {
      e.tables.foreach(tb => QueryMix.Loaders(tb)(spark, dataDir).schema)
    }
    val (got, secs) = Workload.timed(Try(t.op("op:" + e.name) {
      val df = t.span(SpanNames.QueryBuild)(queries(e.name)(spark, dataDir))
      t.span(SpanNames.CatalystPlan)(df.queryExecution.executedPlan)
      t.span(SpanNames.ExecRun)(Digest.of(df))
    }))
    t.settle()
    got match {
      case scala.util.Success(d) if d == e.digest => OpResult(e.name, e.name, secs, ok = true, None)
      case scala.util.Success(d) => OpResult(e.name, e.name, secs, ok = false, Some(s"${e.name}: digest $d, expected ${e.digest}"))
      case scala.util.Failure(err) => OpResult(e.name, e.name, secs, ok = false, Some(s"${e.name}: ${Workload.errorOf(err)}"))
    }
  }

  def finish(t: Tracer): Seq[String] = Nil
  def extraMetrics(t: Tracer): Seq[(String, Double, String)] = Seq(
    ("pipeline.late_early_ratio", 0.0, "ratio"),
    ("io.bytes_written_per_tick", 0.0, "B/tick"),
    ("io.files_written", 0.0, "files/op"),
    ("store.live_files", 0.0, "files"),
    ("store.versions", 0.0, "versions"),
    ("store.bytes_per_tick", 0.0, "B/tick"))
}

object QueryMix {
  val WarmUpCycles = 2

  /** `k` queries standing for a family: the recorded queries sorted by
    * reference latency, cut into `k` equal strata, each stratum's middle
    * query. */
  def stratified(expected: Seq[Expected], k: Int): IndexedSeq[Expected] = {
    val sorted = expected.sortBy(e => (e.refS, e.name)).toIndexedSeq
    (0 until k).map { i =>
      val lo = i * sorted.size / k
      val hi = (i + 1) * sorted.size / k
      sorted((lo + hi - 1) / 2)
    }
  }

  /** The `Tables` reader of every fixture table. */
  val Loaders: Map[String, (SparkSession, String) => DataFrame] = Map(
    "region" -> Tables.region, "nation" -> Tables.nation, "customer" -> Tables.customer,
    "supplier" -> Tables.supplier, "part" -> Tables.part, "orders" -> Tables.orders,
    "lineitem" -> Tables.lineitem, "events" -> Tables.events,
    "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)
}
