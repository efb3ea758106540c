package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.ner.{ModelFormat, SyntheticModel}

/** Deterministic benchmark inputs: the ten tables the catalog queries read
  * (TPC-H-like star schema at scale factor 0.1, plus `events`, `documents`
  * and `embeddings`) and the two NER model files.
  *
  * The tables follow the schemas and value distributions of the project's
  * shared test data (FIXTURES.md §5), generated from a fixed data seed so
  * that the committed `analytics_mix` digests hold for every workload seed.
  * The workload seed only picks the `ner_sql_base` document panel and the
  * `analytics_mix` query order.
  *
  * Run: `Fixtures <outDir>`; writes `<outDir>/<table>.parquet` (one file,
  * one row group each, like the shared test data), `tiny_f32.bin` and
  * `base_f16.bin`.
  */
object Fixtures {
  val DataSeed = 42L
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")
  val TinyModel = "tiny_f32.bin"
  val BaseModel = "base_f16.bin"

  /** Row counts at scale factor 0.1 (the shared test data's bench scale). */
  final case class Scale(customer: Int = 15000, supplier: Int = 1000,
      part: Int = 20000, orders: Int = 150000, lineitem: Int = 600000,
      events: Int = 100000, documents: Int = 5000, embeddings: Int = 2000)

  /** Scale factor 0.001: the smoke-test size. */
  val Smoke: Scale = Scale(150, 10, 200, 1500, 6000, 1000, 50, 20)

  val Words: IndexedSeq[String] = ("query row stream the spark line small fast " +
    "group customer part column order scan a slow agg key window table merge " +
    "vector join batch sort value hash filter big data").split(" ").toIndexedSeq

  private val Segments = IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  private val Priorities = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = IndexedSeq("view", "click", "purchase", "signup",
    "error")
  private val PartTypes = IndexedSeq("ECONOMY", "LARGE", "MEDIUM", "PROMO",
    "SMALL", "STANDARD")
  private val Adjectives = IndexedSeq("blue", "hot", "large", "small", "red",
    "green", "cold", "dark")
  private val Nouns = IndexedSeq("ring", "bolt", "nut", "gear", "pipe",
    "valve", "screw", "spring")

  private def rng(table: String): SplittableRandom =
    new SplittableRandom(DataSeed * 1000003L + table.hashCode)

  private def cents(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def pick[T](r: SplittableRandom, xs: IndexedSeq[T]): T =
    xs(r.nextInt(xs.size))

  private def day(r: SplittableRandom, from: LocalDate, to: LocalDate): LocalDateTime =
    from.plusDays(r.nextLong(to.toEpochDay - from.toEpochDay + 1)).atStartOfDay()

  /** Document texts: 10-100 words drawn from [[Words]]; every 20th document
    * is a near-duplicate of an earlier one (a few words replaced, then
    * `dup` appended) so the near-duplicate queries find candidates, and
    * eight are exact copies.
    */
  def documentTexts(n: Int): IndexedSeq[String] = {
    val r = rng("documents")
    val texts = new Array[String](n)
    var i = 0
    while (i < n) {
      texts(i) =
        if (i % 20 == 11 && i > 0) {
          val src = texts(r.nextInt(i)).split(" ").filter(_ != "dup")
          val edited = src.map(w => if (r.nextInt(10) == 0) pick(r, Words) else w)
          (edited :+ "dup").mkString(" ")
        } else if (i % 600 == 599) texts(r.nextInt(i))
        else Seq.fill(10 + r.nextInt(91))(pick(r, Words)).mkString(" ")
      i += 1
    }
    texts.toIndexedSeq
  }

  private def tableRows(name: String, sc: Scale): (StructType, Seq[Row]) = {
    val r = rng(name)
    name match {
      case "region" =>
        (StructType.fromDDL("r_regionkey INT, r_name STRING"),
          Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
            .zipWithIndex.map { case (n, i) => Row(i, n) })
      case "nation" =>
        (StructType.fromDDL("n_nationkey INT, n_name STRING, n_regionkey INT"),
          (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
      case "customer" =>
        (StructType.fromDDL("c_custkey BIGINT, c_name STRING, " +
          "c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING"),
          (0 until sc.customer).map(i => Row(i.toLong, f"Customer#$i%09d",
            r.nextInt(25), cents(r, -999.99, 9999.99), pick(r, Segments))))
      case "supplier" =>
        (StructType.fromDDL("s_suppkey BIGINT, s_name STRING, " +
          "s_nationkey INT, s_acctbal DOUBLE"),
          (0 until sc.supplier).map(i => Row(i.toLong, f"Supplier#$i%09d",
            r.nextInt(25), cents(r, -999.99, 9999.99))))
      case "part" =>
        (StructType.fromDDL("p_partkey BIGINT, p_name STRING, p_brand STRING, " +
          "p_type STRING, p_size INT, p_retailprice DOUBLE"),
          (0 until sc.part).map(i => Row(i.toLong,
            s"${pick(r, Adjectives)} ${pick(r, Nouns)}", s"Brand#${1 + r.nextInt(25)}",
            pick(r, PartTypes), 1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0)))
      case "orders" =>
        (StructType.fromDDL("o_orderkey BIGINT, o_custkey BIGINT, " +
          "o_orderstatus STRING, o_totalprice DOUBLE, " +
          "o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
          (0 until sc.orders).map(i => Row(i.toLong,
            r.nextInt(sc.customer).toLong, pick(r, IndexedSeq("O", "F", "P")),
            cents(r, 1000, 500000),
            day(r, LocalDate.of(1995, 1, 1), LocalDate.of(2001, 8, 1)),
            pick(r, Priorities))))
      case "lineitem" =>
        (StructType.fromDDL("l_orderkey BIGINT, l_partkey BIGINT, " +
          "l_suppkey BIGINT, l_linenumber INT, l_quantity DOUBLE, " +
          "l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
          "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
          (0 until sc.lineitem).map(_ => Row(r.nextInt(sc.orders).toLong,
            r.nextInt(sc.part).toLong, r.nextInt(sc.supplier).toLong,
            1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble,
            cents(r, 900, 105000), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
            pick(r, IndexedSeq("A", "N", "R")), pick(r, IndexedSeq("O", "F")),
            day(r, LocalDate.of(1995, 1, 2), LocalDate.of(2001, 11, 4)))))
      case "events" =>
        val start = LocalDateTime.of(2024, 1, 1, 0, 0).toEpochSecond(ZoneOffset.UTC) * 1000000L
        val span = 30L * 86400L * 1000000L
        val micros = Array.fill(sc.events)(start + r.nextLong(span)).sorted
        (StructType.fromDDL("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, " +
          "event_type STRING, value DOUBLE, props STRING"),
          micros.toIndexedSeq.zipWithIndex.map { case (us, i) =>
            Row(i.toLong,
              LocalDateTime.ofEpochSecond(us / 1000000L, (us % 1000000L).toInt * 1000, ZoneOffset.UTC),
              r.nextInt(1500).toLong, pick(r, EventTypes),
              math.round(-50.0 * math.log(1.0 - r.nextDouble()) * 100) / 100.0,
              s"""{"k": ${r.nextInt(100)}}""")
          })
      case "documents" =>
        val langs = IndexedSeq("en", "en", "en", "en", "en", "en", "zh", "de", "fr", "es",
          "zh", "de", "fr", "es", "zh")
        (StructType.fromDDL("doc_id BIGINT, text STRING, lang STRING, " +
          "source STRING, n_chars BIGINT"),
          documentTexts(sc.documents).zipWithIndex.map { case (t, i) =>
            Row(i.toLong, t, pick(r, langs), s"src${i % 20}", t.length.toLong)
          })
      case "embeddings" =>
        (StructType.fromDDL("vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"),
          (0 until sc.embeddings).map { i =>
            val g = new java.util.Random(r.nextLong())
            val v = Array.fill(64)(g.nextGaussian())
            val norm = math.sqrt(v.map(x => x * x).sum)
            Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
          })
    }
  }

  /** Write every table as `<dir>/<name>.parquet` (a single file with a
    * single row group, so a scan of it is one partition). */
  def writeTables(spark: SparkSession, dir: Path, sc: Scale): Unit = {
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    Tables.foreach { name =>
      val (schema, rows) = tableRows(name, sc)
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)
    }
  }

  /** The two model files: the synthetic bert-tiny-class F32 model and its
    * bert-base-geometry twin narrowed to F16 (header `f16 = 1`, the form the
    * reference converter writes with `ftype=1`). */
  def writeModels(dir: Path): Unit = {
    ModelFormat.write(SyntheticModel.loaded.model, dir.resolve(TinyModel).toString)
    val base = SyntheticModel.loadedBaseF16.model
    ModelFormat.write(base.copy(hparams = base.hparams.copy(f16 = 1)),
      dir.resolve(BaseModel).toString)
  }

  /** Every input: the tables at `scale` and the model files. */
  def writeAll(dir: Path, scale: Scale): Unit = {
    Files.createDirectories(dir)
    val spark = Session.builder(1, dir.resolve("spark-tmp")).getOrCreate()
    try writeTables(spark, dir, scale) finally Session.stop(spark)
    writeModels(dir)
  }

  def main(args: Array[String]): Unit = writeAll(Paths.get(args(0)), Scale())
}
