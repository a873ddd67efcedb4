package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}

/** A query result's fingerprint: its row count and the wrapping sum of a
  * 64-bit hash of every row's full binary form (all columns). The sum
  * makes it independent of row order; any changed value, added or lost
  * row changes it. */
final case class Digest(rows: Long, hash: Long) {
  override def toString: String = s"$rows:${java.lang.Long.toHexString(hash)}"
}

object Digest {
  def parse(s: String): Digest = {
    val Array(r, h) = s.split(":")
    Digest(r.toLong, java.lang.Long.parseUnsignedLong(h, 16))
  }

  /** Executes the whole physical plan once (every output column is
    * computed, like `toRdd.count`) and digests the rows in the same pass. */
  def of(df: DataFrame): Digest = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { rows =>
      val toUnsafe = UnsafeProjection.create(schema)
      var n = 0L
      var h = 0L
      while (rows.hasNext) {
        val r = toUnsafe(rows.next())
        h += XXH64.hashUnsafeBytes(r.getBaseObject, r.getBaseOffset, r.getSizeInBytes, 42L)
        n += 1
      }
      Iterator.single((n, h))
    }.collect().foldLeft(Digest(0L, 0L)) { case (d, (n, h)) => Digest(d.rows + n, d.hash + h) }
  }
}
