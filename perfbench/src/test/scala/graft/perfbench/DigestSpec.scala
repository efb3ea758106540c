package graft.perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = Session.stop(spark)

  private def df = spark.range(0, 1000).select(col("id"), (col("id") % 7).as("m"),
    concat(lit("r"), col("id").cast("string")).as("s"))

  test("the digest ignores row order and partitioning") {
    val d = Digest.of(df)
    assert(d.rows == 1000)
    assert(Digest.of(df.orderBy(col("id").desc)) == d)
    assert(Digest.of(df.repartition(5)) == d)
  }

  test("the digest changes with any value, and with a duplicated row") {
    val d = Digest.of(df)
    assert(Digest.of(df.withColumn("m", when(col("id") === 500, 99).otherwise(col("m")))) != d)
    val dup = Digest.of(df.union(df.limit(1)))
    assert(dup.rows == 1001 && dup != d)
  }

  test("an empty result digests to zero rows and zero hash") {
    assert(Digest.of(df.filter(col("id") < 0)) == Digest(0, 0))
  }

  test("digests add row counts, and hashes modulo 2^64") {
    assert(Digest(1, Long.MaxValue) + Digest(2, 2) == Digest(3, Long.MinValue + 1))
    assert(Digest(4, 7) + Digest.Zero == Digest(4, 7))
  }

  test("a row's hash depends on its values only") {
    val schema = df.schema
    val rows = df.collect().map(r =>
      org.apache.spark.sql.catalyst.InternalRow(r.getLong(0), r.getLong(1),
        org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(2))))
    val p = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(schema)
    val again = rows.map(_.copy())
    assert(rows.map(Digest.hashRow(_, p)).toSeq == again.map(Digest.hashRow(_, p)).toSeq)
    assert(rows.map(Digest.hashRow(_, p)).distinct.length == rows.length)
  }

  test("committed digests read back as written") {
    val f = Files.createTempFile("digests", ".txt")
    try {
      val ds = Seq("q2" -> Digest(3, -42L), "q1" -> Digest(0, 0))
      Digest.write(f, ds)
      assert(Digest.read(f) == ds.toMap)
    } finally Files.delete(f)
  }
}
