package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "3")
    .getOrCreate()

  private def frame = {
    val s = spark
    import s.implicits._
    (1 to 200).map(i => (i % 7, s"r$i", i * 0.5, Seq(i, -i))).toDF("k", "s", "d", "a")
  }

  test("the digest does not depend on row or partition order") {
    val a = Digest.of(frame)
    assert(a.rows == 200)
    assert(Digest.of(frame.orderBy(col("s").desc)) == a)
    assert(Digest.of(frame.repartition(5, col("k"))) == a)
    assert(Digest.of(frame.coalesce(1).orderBy(col("d"))) == a)
  }

  test("the digest sees a changed value and a duplicated row") {
    val a = Digest.of(frame)
    assert(Digest.of(frame.withColumn("d", col("d") + 1)) != a)
    assert(Digest.of(frame.union(frame.limit(1))).hash != a.hash)
  }

  test("the driver-side digest equals the distributed one") {
    val df = frame.repartition(4)
    val rows = df.queryExecution.toRdd.map(_.copy()).collect()
    assert(Digest.local(rows.iterator, df.queryExecution.executedPlan.schema) == Digest.of(df))
  }
}
