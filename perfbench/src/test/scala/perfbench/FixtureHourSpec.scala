package perfbench

import graft.ops.GoldModel
import graft.ops.Validation.GateViolation
import graft.pipeline.FactPipeline
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Why `hourly_etl` generates its ticks instead of replaying the fixture. */
class FixtureHourSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private val work = java.nio.file.Files.createTempDirectory(
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target")), "fixture-hour-spec")

  override def beforeAll(): Unit = spark = Main.session(work)
  override def afterAll(): Unit = {
    spark.stop()
    graft.queries.rmrf(work.toString)
  }

  test("the first hour of the sf0.1 events fixture fails the completeness gate") {
    val events = graft.Tables.events(spark, "data/sf0.1")
    val first = GoldModel.fact(events).agg(min(struct(col("date_id"), col("time_id")))).head().getStruct(0)
    val (dateId, hour) = (first.getInt(0), first.getInt(1) / 10000)
    val run = FactPipeline.runHour(spark, events, work.resolve("wh").toString, dateId, hour, 1L,
      transactional = true)
    val err = run.failed.get
    assert(err.isInstanceOf[GateViolation], err)
    assert(err.getMessage.startsWith("completeness:"), err.getMessage)
    info(err.getMessage)
  }
}
