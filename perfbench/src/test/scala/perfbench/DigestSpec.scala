package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private val work = java.nio.file.Files.createTempDirectory(
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target")), "digest-spec")

  override def beforeAll(): Unit = spark = Main.session(work)
  override def afterAll(): Unit = {
    spark.stop()
    graft.queries.rmrf(work.toString)
  }

  private def frame: DataFrame = spark.range(0, 1000, 1, 4)
    .select(col("id"), (col("id") * 1.5).as("x"), concat(lit("k"), col("id")).as("s"),
      array(col("id"), col("id") + 1).as("a"))

  test("the digest ignores row order and partitioning, not values") {
    val d = Digest.of(frame)
    assert(d.rows == 1000)
    assert(Digest.of(frame.orderBy(col("id").desc).repartition(7)) == d)
    assert(Digest.of(frame.withColumn("x", when(col("id") === 500, 0.0).otherwise(col("x")))) != d)
    assert(Digest.of(frame.filter(col("id") =!= 3)) != d)
    assert(Digest.of(frame.union(frame.filter(col("id") === 3))) != d)
    assert(Digest.parse(d.toString) == d)
  }

  test("the query mix counts a perturbed result as a failed operation") {
    val good = Expected("analytics", "q", Digest.of(frame), 0.1, Nil)
    def mix(fn: (SparkSession, String) => DataFrame) =
      new QueryMix(spark, "unused", Map("q" -> fn), IndexedSeq(good), seed = 1L)
    val ok = mix((_, _) => frame)
    ok.reset()
    assert(ok.next(Tracer.Off).ok)
    val bad = mix((_, _) => frame.withColumn("s", when(col("id") === 7, lit("x")).otherwise(col("s"))))
    bad.reset()
    val r = bad.next(Tracer.Off)
    assert(!r.ok && r.error.exists(_.contains("expected")))
  }

  test("the basket holds each latency stratum's middle query; the seed orders each cycle") {
    val exp = (0 until 20).map(i => Expected("analytics", s"q$i", Digest(0, 0), i.toDouble, Nil))
    val basket = QueryMix.stratified(scala.util.Random.shuffle(exp), 4)
    assert(basket.map(_.name) == Seq("q2", "q7", "q12", "q17"))
    def mix(seed: Long) = new QueryMix(spark, "unused", Map.empty, basket, seed)
    assert(mix(5).draws(12) == mix(5).draws(12))
    assert(mix(5).draws(12) != mix(6).draws(12))
    mix(5).draws(12).grouped(4).foreach(cycle => assert(cycle.sorted == Seq("q12", "q17", "q2", "q7")))
  }
}
