package graft.ner

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{ArrayType, StringType, StructType}
import graft.SparkTestBase

/** Port of the reference's entire observable test surface
  * (`test/sql/ner.test`, FIXTURES.md §1) plus the with-model behaviors the
  * reference left untested.
  */
class NerSparkSpec extends SparkTestBase {

  private def tmp(name: String): String =
    Files.createTempDirectory("graft-ner").resolve(name).toString

  private def setPath(p: String): Unit = {
    spark.conf.set(Ner.ConfKey, p)
    Ner.resetCache()
  }
  private def unsetPath(): Unit = {
    spark.conf.unset(Ner.ConfKey)
    Ner.resetCache()
  }

  private def nerRows(sql: String): Seq[Row] = spark.sql(sql).collect().toSeq

  test("stanza 1: calling ner before registration fails analysis") {
    val fresh = spark.newSession()
    val e = intercept[Exception] { fresh.sql("SELECT ner('Sam is great')").collect() }
    assert(e.getMessage.toLowerCase.contains("ner"))
  }

  test("stanza 2: model-path setting is introspectable and unset by default") {
    unsetPath()
    val rows = nerRows(s"SET ${Ner.ConfKey}")
    assert(rows.size == 1)
    assert(rows.head.getString(0) == Ner.ConfKey)
    assert(rows.head.getString(1) == "<undefined>") // reference: NULL
  }

  test("stanza 3: no model -> empty list, correct schema") {
    Ner.register(spark)
    unsetPath()
    val df = spark.sql("SELECT ner('DuckDB is a great database system') AS entities")
    val schema = df.schema.fields(0).dataType
    val expected = ArrayType(
      new StructType().add("entity", StringType).add("label", StringType),
      containsNull = true)
    assert(schema.asInstanceOf[ArrayType].elementType.isInstanceOf[StructType])
    assert(schema.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
      .fieldNames.toSeq == Seq("entity", "label"))
    assert(df.collect().head.getSeq[Row](0).isEmpty)
  }

  test("stanza 4: ner_extract is an exact alias") {
    Ner.register(spark)
    unsetPath()
    assert(nerRows("SELECT ner_extract('DuckDB is great') AS e")
      .head.getSeq[Row](0).isEmpty)
  }

  test("stanza 5: positional truncate argument is accepted") {
    Ner.register(spark)
    unsetPath()
    assert(nerRows("SELECT ner('DuckDB is great', true) AS e")
      .head.getSeq[Row](0).isEmpty)
    assert(nerRows("SELECT ner_extract('DuckDB is great', false) AS e")
      .head.getSeq[Row](0).isEmpty)
  }

  test("stanzas 6+7: SET to a bad path is silent, introspectable, still []") {
    Ner.register(spark)
    setPath("/tmp/non_existent_model.bin")
    val rows = nerRows(s"SET ${Ner.ConfKey}")
    assert(rows.head.getString(1) == "/tmp/non_existent_model.bin")
    assert(nerRows("SELECT ner('DuckDB is great') AS e").head.getSeq[Row](0).isEmpty)
    unsetPath()
  }

  test("no-model branch maps even NULL input to [] (ner_extension.cpp:71-74)") {
    Ner.register(spark)
    unsetPath()
    val r = nerRows("SELECT ner(CAST(NULL AS STRING)) AS e").head
    assert(!r.isNullAt(0))
    assert(r.getSeq[Row](0).isEmpty)
  }

  test("with model: NULL input -> NULL output (ner_extension.cpp:101-103)") {
    Ner.register(spark)
    val p = tmp("m.bin")
    TestModels.writeValid(p, classifierBias = TestModels.biasFor(0))
    setPath(p)
    val r = nerRows("SELECT ner(CAST(NULL AS STRING)) AS e").head
    assert(r.isNullAt(0))
    unsetPath()
  }

  test("with model: deterministic entities via bias-dominated classifier") {
    Ner.register(spark)
    val p = tmp("bias_per.bin")
    // every token argmaxes to B-ORG(5): full words each start an entity,
    // subwords merge into the previous one
    TestModels.writeValid(p, classifierBias = TestModels.biasFor(5))
    setPath(p)
    // literal "##" in the input: "duck##db" pre-splits as one word; greedy
    // match takes "duck", the "##" bytes are unknown-skipped, "db" matches
    // the subword vocab -> same tokens as plain "duckdb"
    val ents = nerRows("SELECT ner('duck##db is great') AS e")
      .head.getSeq[Row](0)
    assert(ents.map(x => (x.getString(0), x.getString(1))) ==
      Seq(("duckdb", "ORG"), ("is", "ORG"), ("great", "ORG")))
    val r = nerRows("SELECT ner('duckdb is great') AS e").head.getSeq[Row](0)
    assert(r.map(x => (x.getString(0), x.getString(1))) ==
      Seq(("duckdb", "ORG"), ("is", "ORG"), ("great", "ORG")))
    unsetPath()
  }

  test("with model: B/I merge across words via bias on an I- label") {
    Ner.register(spark)
    val p = tmp("bias_iloc.bin")
    // all tokens I-LOC(8): even label => continuation, one entity per text
    TestModels.writeValid(p, classifierBias = TestModels.biasFor(8))
    setPath(p)
    val r = nerRows("SELECT ner('new york') AS e").head.getSeq[Row](0)
    assert(r.map(x => (x.getString(0), x.getString(1))) == Seq(("new york", "LOC")))
    unsetPath()
  }

  test("truncate=false with over-limit input throws the reference message") {
    Ner.register(spark)
    val p = tmp("small.bin")
    TestModels.writeValid(p, nMaxTokens = 6, classifierBias = TestModels.biasFor(0))
    setPath(p)
    val msg = "Input string exceeds model token limit and truncate=false"
    val e = intercept[Exception] {
      spark.sql("SELECT ner('new york duck is great bob the a', false)").collect()
    }
    def chain(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ++ chain(t.getCause)
    assert(chain(e).exists(_.contains(msg)))
    // truncate=true on the same input silently truncates
    val ok = spark.sql("SELECT ner('new york duck is great bob the a', true) AS e").collect()
    assert(ok.nonEmpty)
    unsetPath()
  }

  test("DataFrame API over the documents table (flagship shape)") {
    Ner.register(spark)
    unsetPath()
    val df = spark.read.parquet(s"${sf()}/documents.parquet")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        Ner.ner(org.apache.spark.sql.functions.col("text")).as("entities"))
    val rows = df.limit(5).collect()
    assert(rows.length == 5)
    assert(rows.forall(_.getSeq[Row](1).isEmpty))
  }

  test("model reload on conf change: bad -> good -> bad") {
    Ner.register(spark)
    val good = tmp("good.bin")
    TestModels.writeValid(good, classifierBias = TestModels.biasFor(5))
    setPath("/tmp/nope.bin")
    assert(nerRows("SELECT ner('duckdb') AS e").head.getSeq[Row](0).isEmpty)
    setPath(good)
    assert(nerRows("SELECT ner('duckdb') AS e").head.getSeq[Row](0).nonEmpty)
    setPath("/tmp/nope2.bin")
    assert(nerRows("SELECT ner('duckdb') AS e").head.getSeq[Row](0).isEmpty)
    unsetPath()
  }

  test("registerBroadcast: model ships as broadcast bytes, conf path unused") {
    val p = tmp("bcast.bin")
    TestModels.writeValid(p, classifierBias = TestModels.biasFor(5))
    unsetPath()
    Ner.registerBroadcast(spark, p)
    val r = nerRows("SELECT ner('duckdb is great') AS e").head.getSeq[Row](0)
    assert(r.map(x => (x.getString(0), x.getString(1))) ==
      Seq(("duckdb", "ORG"), ("is", "ORG"), ("great", "ORG")))
    // unreadable path keeps the silent no-model semantics
    Ner.registerBroadcast(spark, "/tmp/no/such/model.bin")
    assert(nerRows("SELECT ner('duckdb') AS e").head.getSeq[Row](0).isEmpty)
    Ner.register(spark) // restore the conf-path variant for other suites
  }

  test("registerBroadcast: the broadcast model is built once per JVM, not per task") {
    val p = tmp("bcast-once.bin")
    TestModels.writeValid(p, classifierBias = TestModels.biasFor(5))
    Ner.registerBroadcast(spark, p)
    try {
      val expr = spark.sql("SELECT ner('duckdb is great') AS e").queryExecution
        .analyzed.expressions
        .flatMap(_.collect { case e: NerExtractExpression => e }).head
      // two tasks each deserialize their own copy of the bound expression
      val ser = org.apache.spark.SparkEnv.get.closureSerializer.newInstance()
      val copies = Seq.fill(2)(
        ser.deserialize[NerExtractExpression](ser.serialize(expr)))
      val resolved = copies.map { c =>
        c.initialize(0)
        val out = c.eval(org.apache.spark.sql.catalyst.InternalRow.empty)
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        assert(out.numElements() == 3)
        Ner.modelFor(c.source).get
      }
      assert(resolved(0) eq resolved(1))
    } finally Ner.register(spark)
  }

  test("volatile marking: ner on a literal is not constant-folded") {
    Ner.register(spark)
    unsetPath()
    val plan = spark.sql("SELECT ner('DuckDB is great') AS e").queryExecution
      .optimizedPlan.toString
    assert(plan.contains("UDF") || plan.toLowerCase.contains("ner"))
  }
}
