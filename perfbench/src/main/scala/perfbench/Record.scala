package perfbench

import java.nio.file.Paths
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Records `perfbench/expected.tsv`: for every registered query, its
  * result digest (executed twice; the two must agree), a reference
  * latency from the second execution, and the fixture tables its
  * analyzed plan scans.
  *
  * {{{
  * Record <checkout root> [<verify dump dir>]
  * }}}
  *
  * With a dump directory it also writes `graft.Verify`'s per-query parquet
  * dump of the same fixture, which `tools/check_oracle.py <dump>
  * perfbench/data/sf0.1` compares against the DuckDB oracles.
  */
object Record {
  def main(args: Array[String]): Unit = {
    val root = Paths.get(args(0)).toAbsolutePath
    val work = root.resolve(".bench_build/perfbench/record")
    val spark = Main.session(work)
    val dataDir = root.resolve(Main.DataDir).toString
    try {
      val rows = Main.queryFamilies.toSeq.sortBy(_._1).flatMap { case (family, qs) =>
        qs.toSeq.sortBy(_._1).map { case (name, q) =>
          graft.ops.PlanCache.clear()
          val first = Digest.of(q.fn(spark, dataDir))
          graft.ops.PlanCache.clear()
          val ((digest, tables), secs) = Workload.timed {
            val df = q.fn(spark, dataDir)
            df.queryExecution.executedPlan
            val tables = df.queryExecution.analyzed.collect {
              case LogicalRelation(h: HadoopFsRelation, _, _, _, _) =>
                h.location.rootPaths.map(_.getName.stripSuffix(".parquet"))
            }.flatten.filter(QueryMix.Loaders.contains).distinct.sorted
            (Digest.of(df), tables)
          }
          require(first == digest, s"$name is not deterministic: $first then $digest")
          System.err.println(f"[record] $family $name $digest $secs%.3f s")
          Expected(family, name, digest, secs, tables)
        }
      }
      Expected.write(root.resolve(Main.ExpectedFile), rows)
      args.lift(1).foreach(dump => graft.Verify.run(spark, dataDir, dump))
    } finally spark.stop()
  }
}
