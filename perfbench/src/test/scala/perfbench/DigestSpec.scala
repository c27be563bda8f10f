package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def rows = {
    val s = spark
    import s.implicits._
    (1 to 200).map(i => (i.toLong, s"w$i", i * 0.1, Seq(i * 0.5, i * 0.25))).toDF("id", "w", "x", "xs")
  }

  test("the digest ignores row order and partitioning") {
    val d = Digest.of(rows)
    assert(Digest.of(rows.orderBy(desc("id"))) == d)
    assert(Digest.of(rows.repartition(7, col("w"))) == d)
    assert(d.startsWith("200:"))
  }

  test("the digest catches one changed row") {
    val d = Digest.of(rows)
    val changed = rows.withColumn("w", when(col("id") === 117, lit("other")).otherwise(col("w")))
    assert(Digest.of(changed) != d)
    val dropped = rows.filter(col("id") =!= 5)
    assert(Digest.of(dropped) != d)
  }

  test("floats are rounded to 6 decimals, also inside arrays") {
    val nudged = rows
      .withColumn("x", col("x") + lit(1e-9))
      .withColumn("xs", transform(col("xs"), v => v + lit(1e-9)))
    assert(Digest.of(nudged) == Digest.of(rows))
    assert(Digest.of(rows.withColumn("x", col("x") + lit(1e-3))) != Digest.of(rows))
  }

  test("repeated column names and maps are digested") {
    val twice = spark.sql("SELECT 1 AS k, 2 AS v, 3 AS v")
    assert(Digest.of(twice).startsWith("1:"))
    assert(Digest.of(twice) != Digest.of(spark.sql("SELECT 1 AS k, 3 AS v, 3 AS v")))
    val m1 = spark.sql("SELECT map('a', 1.0D, 'b', 2.0D) AS m")
    val m2 = spark.sql("SELECT map('b', 2.0D, 'a', 1.0D) AS m")
    assert(Digest.of(m1) == Digest.of(m2))
  }
}
