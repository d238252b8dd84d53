package perfbench

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** Order-independent digest of a query's output: the row count and the
  * sum, modulo 2^64, of a 64-bit hash of each row's UnsafeRow bytes. A sum
  * does not depend on row or partition order, and it still counts
  * duplicate rows, so two outputs agree exactly when they hold the same
  * multiset of rows (up to hash collisions). */
object Digest {
  final case class Value(rows: Long, hash: Long) {
    def +(o: Value): Value = Value(rows + o.rows, hash + o.hash)
    def hex: String = f"$rows%d:$hash%016x"
  }

  def rowHash(u: UnsafeRow): Long = {
    val h1 = Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42)
    val h2 = Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 0x2f0b3c1d)
    (h1.toLong << 32) ^ (h2.toLong & 0xffffffffL)
  }

  /** One full pass over `rows`: every row of the physical plan's output
    * is produced and hashed, so the optimizer cannot shorten the plan the
    * way it can shorten a `count()`. */
  def of(rows: RDD[InternalRow], schema: StructType): Value =
    rows.mapPartitions(it => Iterator(local(it, schema))).collect().foldLeft(Value(0L, 0L))(_ + _)

  /** The digest of rows already on the driver. */
  def local(rows: Iterator[InternalRow], schema: StructType): Value = {
    val proj = UnsafeProjection.create(schema)
    var n = 0L
    var h = 0L
    rows.foreach { r =>
      val u = r match {
        case u: UnsafeRow => u
        case other => proj(other)
      }
      n += 1
      h += rowHash(u)
    }
    Value(n, h)
  }

  def of(df: org.apache.spark.sql.DataFrame): Value =
    of(df.queryExecution.toRdd, df.queryExecution.executedPlan.schema)
}
