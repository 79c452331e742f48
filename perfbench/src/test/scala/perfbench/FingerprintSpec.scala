package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = {
    val s = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "3")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = spark.stop()

  private def rows = spark.range(0, 200).select(col("id"), (col("id") % 7).as("k"),
    (col("id") / 3.0).as("x"), concat(lit("n"), col("id").cast("string")).as("s"),
    array(col("id").cast("double"), lit(0.5)).as("v"),
    map(col("k").cast("string"), col("x")).as("m"))

  test("fingerprint ignores row order and partitioning") {
    val a = Fingerprint.of(rows)
    assert(a.rows == 200)
    assert(Fingerprint.of(rows.orderBy(col("x").desc)) == a)
    assert(Fingerprint.of(rows.repartition(5, col("k"))) == a)
    assert(Fingerprint.of(rows.union(rows.limit(0))) == a)
  }

  test("fingerprint sees every column, also ones a count() would prune") {
    val a = Fingerprint.of(rows)
    val changed = rows.withColumn("s", when(col("id") === 17, lit("other")).otherwise(col("s")))
    assert(Fingerprint.of(changed).rows == a.rows)
    assert(Fingerprint.of(changed).hash != a.hash)
    assert(Fingerprint.of(rows.drop("m")) != a)
  }

  test("fingerprint counts duplicate rows") {
    val one = rows.filter(col("id") === 3)
    val a = Fingerprint.of(one)
    val b = Fingerprint.of(one.union(one))
    assert(b.rows == 2 && b.hash == a.hash * 2)
  }

  test("last-bit double noise does not change the fingerprint") {
    val noisy = rows.withColumn("x", col("x") + lit(1e-12))
      .withColumn("v", transform(col("v"), e => e * lit(1.0 + 1e-15)))
    assert(Fingerprint.of(noisy) == Fingerprint.of(rows))
  }

  test("duplicate and dotted column names are hashed by position") {
    val df = spark.range(3).select(col("id").as("a.b"), col("id").as("c"), (col("id") * 2).as("c"))
    assert(Fingerprint.of(df).rows == 3)
  }
}
