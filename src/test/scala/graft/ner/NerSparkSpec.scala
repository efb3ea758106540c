package graft.ner

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.metric.SQLShuffleWriteMetricsReporter
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, StringType, StructType}
import graft.SparkTestBase

/** Port of the reference's entire observable test surface
  * (`test/sql/ner.test`, FIXTURES.md §1) plus the with-model behaviors the
  * reference left untested.
  */
class NerSparkSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

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

  /** The `NerEvalExec` operators `df` ran through (after running it, so an
    * adaptive plan is final). */
  private def nerExecs(df: DataFrame): Seq[NerEvalExec] = {
    df.collect()
    collect(df.queryExecution.executedPlan) { case e: NerEvalExec => e }
  }

  /** `(id, text)` rows in exactly `parts` partitions, with no shuffle. */
  private def docsIn(parts: Int, docs: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(docs, parts).toDF("id", "text")
  }

  private def entities(r: Row, i: Int): Seq[(String, String)] =
    if (r.isNullAt(i)) null
    else r.getSeq[Row](i).map(e => (e.getString(0), e.getString(1)))

  private lazy val documents: Seq[(Long, String)] =
    spark.read.parquet(s"${sf()}/documents.parquet").select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.take(60) ++
      Seq((-1L, null: String), (-2L, ""))

  /** The synthetic char-vocabulary model as a container file: every
    * document tokenizes, and entities vary from row to row. */
  private def syntheticModel(name: String): String = {
    val p = tmp(name)
    ModelFormat.write(SyntheticModel.loaded.model, p)
    p
  }

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

  test("a known tensor with the wrong size or dims is no model: [] for every row") {
    Ner.register(spark)
    val sql = "SELECT ner(t) AS e FROM VALUES ('duckdb is great'), ('new york'), " +
      "(CAST(NULL AS STRING)) AS v(t) ORDER BY t NULLS LAST"
    val good = tmp("shaped.bin")
    TestModels.writeValid(good, classifierBias = TestModels.biasFor(5))
    setPath(good)
    assert(nerRows(sql).take(2).forall(_.getSeq[Row](0).nonEmpty))
    // classifier.bias with 8 values for 9 labels; intermediate.dense.weight
    // stored [16, 8] instead of [n_embd 8, n_intermediate 16] (same numel)
    Seq(
      ("bias8.bin", TestModels.biasFor(5).take(8), "classifier.bias" -> Array(8)),
      ("swapped.bin", TestModels.biasFor(5),
        "encoder.layer.0.intermediate.dense.weight" -> Array(16, 8))
    ).foreach { case (file, bias, dims) =>
      val p = tmp(file)
      TestModels.writeValid(p, classifierBias = bias, storedDims = Map(dims))
      setPath(p)
      assert(nerRows(sql).forall(r => !r.isNullAt(0) && r.getSeq[Row](0).isEmpty), file)
    }
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
      val exec = nerExecs(spark.sql("SELECT ner('duckdb is great') AS e")).head
      // two tasks each deserialize their own copy of the operator
      val ser = org.apache.spark.SparkEnv.get.closureSerializer.newInstance()
      val copies = Seq.fill(2)(ser.deserialize[NerEvalExec](ser.serialize(exec)))
      val resolved = copies.map { c =>
        val out = c.evalRows(0,
          Iterator.single(org.apache.spark.sql.catalyst.InternalRow.empty)).toSeq
        assert(out.size == 1 && out.head.getArray(0).numElements() == 3)
        Ner.modelFor(c.call.source).get
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

  /** `df` ran through a `NerEvalExec`, and no `ner()` call is left
    * outside a `NerEval` node. */
  private def onlyViaExec(df: DataFrame): Unit = {
    assert(nerExecs(df).nonEmpty, df.queryExecution.executedPlan.toString)
    val left = df.queryExecution.optimizedPlan.collect {
      case p if !p.isInstanceOf[NerEval] => p.expressions
    }.flatten.filter(_.exists(_.isInstanceOf[NerExtractExpression]))
    assert(left.isEmpty, s"ner() left outside NerEval: $left")
  }

  test("ner() in a SELECT, a WHERE, an aggregate, Ner.ner and registerBroadcast plans as NerEvalExec") {
    // an aggregate function's argument may not hold ner(): it is not
    // deterministic, so Spark rejects it there, as for rand(), and an
    // aggregate reads it from a subquery instead; a GROUP BY on ner() is
    // pulled into a projection below the aggregate
    Ner.register(spark)
    unsetPath()
    docsIn(1, documents).createOrReplaceTempView("ner_docs")
    onlyViaExec(spark.sql("SELECT id, ner(text) AS e FROM ner_docs"))
    onlyViaExec(spark.sql("SELECT id FROM ner_docs WHERE size(ner(text)) = 0"))
    onlyViaExec(spark.sql("SELECT sum(size(e)) AS n FROM (SELECT ner(text) AS e FROM ner_docs)"))
    onlyViaExec(spark.sql("SELECT ner(max(text)) AS e, count(*) FROM ner_docs"))
    onlyViaExec(spark.sql("SELECT text, ner(text) AS e, count(*) FROM ner_docs GROUP BY text"))
    onlyViaExec(spark.sql("SELECT id, ner(to_json(ner(text)), false) AS e FROM ner_docs"))
    val grouped = spark.sql(
      "SELECT ner(text) AS e, count(*) AS n FROM ner_docs GROUP BY ner(text)")
    onlyViaExec(grouped)
    onlyViaExec(spark.table("ner_docs").select(col("id"), Ner.ner(col("text")).as("e")))
    val inAggregate = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT sum(size(ner(text))) AS n FROM ner_docs")
    }
    assert(inAggregate.getCondition == "AGGREGATE_FUNCTION_WITH_NONDETERMINISTIC_EXPRESSION",
      inAggregate.getMessage)
    val p = tmp("bcast-plan.bin")
    TestModels.writeValid(p, classifierBias = TestModels.biasFor(5))
    Ner.registerBroadcast(spark, p)
    try {
      val df = spark.sql("SELECT id, ner(text) AS e FROM ner_docs WHERE id = 3")
      onlyViaExec(df)
      assert(df.collect().map(entities(_, 1)).forall(_.nonEmpty))
    } finally Ner.register(spark)
    // a WHERE on ner() and an aggregate over it give the per-row answers
    assert(spark.sql("SELECT sum(size(e)) FROM (SELECT ner(text) AS e FROM ner_docs)")
      .collect().head.getLong(0) == 0)
    assert(spark.sql("SELECT count(*) FROM ner_docs WHERE size(ner(text)) = 0")
      .collect().head.getLong(0) == documents.size)
    // with no model every row, NULL included, is one [] group
    assert(grouped.collect().map(r => (entities(r, 0), r.getLong(1))).toSeq ==
      Seq((Seq.empty, documents.size.toLong)))
  }

  test("the catalog's ner() queries plan as NerEvalExec") {
    Ner.register(spark)
    unsetPath()
    for (q <- Seq("q24_ner_flagship", "q25_ner_extract_sql",
        "q26_ner_with_model", "q205_ner_q4_native", "q208_ner_f16_native"))
      withClue(q) { onlyViaExec(graft.SparkEntry.queries(q)(spark, sf())) }
  }

  test("a Synthetic source resolves to its twin and leaves the model cache alone") {
    setPath(syntheticModel("cache-kept.bin"))
    try {
      val confModel = Ner.currentModel().get
      assert(Ner.modelFor(Ner.Synthetic(ModelFormat.F32)).get eq SyntheticModel.loaded)
      assert(Ner.modelFor(Ner.Synthetic(ModelFormat.F16)).get eq SyntheticModel.loadedF16)
      assert(Ner.modelFor(Ner.Synthetic(ModelFormat.Q4_0)).get eq SyntheticModel.loadedQ4)
      assert(Ner.modelFor(Ner.Synthetic(99)).isEmpty)
      assert(Ner.currentModel().get eq confModel)
    } finally unsetPath()
  }

  test("q26/q205/q208 rows equal Ner.evalWith with their synthetic twin") {
    Ner.register(spark)
    unsetPath()
    val docs = graft.queries.Tables.documents(spark, sf())
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    for ((q, twin) <- Seq(
        "q26_ner_with_model" -> SyntheticModel.loaded,
        "q205_ner_q4_native" -> SyntheticModel.loadedQ4,
        "q208_ner_f16_native" -> SyntheticModel.loadedF16)) {
      val want = docs.sortBy(_._1).map { case (id, text) =>
        val e = Ner.evalWith(Some(twin), text, truncate = true)
        (id, e.length, e.headOption.map(_.label).orNull)
      }.toSeq
      val got = graft.SparkEntry.queries(q)(spark, sf()).collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
      assert(got == want, q)
      assert(want.count(_._2 > 0) > want.size / 2, s"$q: too few entities to pin")
    }
  }

  test("SQL ner() equals Ner.evalWith row for row at 1, 2, P and 2P child partitions") {
    Ner.register(spark)
    setPath(syntheticModel("parity.bin"))
    val model = Ner.currentModel()
    assert(model.isDefined)
    val want = documents.map { case (id, t) =>
      val e = Ner.evalWith(model, t, truncate = true)
      id -> (if (e == null) null else e.toSeq.map(x => (x.entity, x.label)))
    }.toMap
    assert(want.values.count(e => e != null && e.nonEmpty) > 10)
    val cores = spark.sparkContext.defaultParallelism
    for (parts <- Seq(1, 2, cores, 2 * cores)) {
      val df = docsIn(parts, documents).select(col("id"), Ner.ner(col("text")).as("e"))
      val got = df.collect().map(r => r.getLong(0) -> entities(r, 1)).toMap
      assert(got == want, s"$parts child partitions")
      assert(df.queryExecution.toRdd.getNumPartitions == math.max(parts, cores))
    }
    unsetPath()
  }

  test("a child with at least defaultParallelism partitions gets no extra shuffle") {
    Ner.register(spark)
    unsetPath()
    val cores = spark.sparkContext.defaultParallelism
    def shuffled(parts: Int): Long = {
      val exec = nerExecs(docsIn(parts, documents)
        .select(col("id"), Ner.ner(col("text")).as("e"))).head
      exec.metrics(SQLShuffleWriteMetricsReporter.SHUFFLE_RECORDS_WRITTEN).value
    }
    assert(shuffled(1) == documents.size)
    assert(shuffled(cores) == 0)
    assert(shuffled(2 * cores) == 0)
  }

  test("the truncate flag is read per row: a boolean column of mixed values") {
    Ner.register(spark)
    val p = tmp("per-row-truncate.bin")
    TestModels.writeValid(p, nMaxTokens = 12, weightGen = TestModels.seeded(11))
    setPath(p)
    val long = "new york duck is great bob the a spark data new york duck"
    val rows = Seq((1L, long, Some(true)), (2L, "duck is great", Some(false)),
      (3L, long, None), (4L, "new york", Some(true)), (5L, long, Some(true)))
    import spark.implicits._
    val df = spark.sparkContext.parallelize(rows, 2).toDF("id", "text", "tr")
      .select(col("id"), Ner.ner(col("text"), col("tr")).as("e"))
    val got = df.collect().map(r => r.getLong(0) -> entities(r, 1)).toMap
    val model = Ner.currentModel()
    rows.foreach { case (id, t, tr) =>
      assert(got(id) == Ner.evalWith(model, t, tr.getOrElse(true)).toSeq
        .map(x => (x.entity, x.label)), s"row $id")
    }
    val exec = nerExecs(df).head
    assert(exec.metrics("truncatedDocs").value == 3)
    // one over-limit row that may not truncate fails the statement
    val e = intercept[Exception] {
      spark.sparkContext.parallelize(rows :+ ((6L, long, Some(false))), 2)
        .toDF("id", "text", "tr").select(Ner.ner(col("text"), col("tr"))).collect()
    }
    def chain(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ++ chain(t.getCause)
    assert(chain(e).exists(_.contains(
      "Input string exceeds model token limit and truncate=false")))
    unsetPath()
  }

  test("NerEvalExec metrics: a bad model path counts every row as no-model") {
    Ner.register(spark)
    setPath("/tmp/no/such/model.bin")
    val bad = nerExecs(docsIn(3, documents).select(Ner.ner(col("text")))).head
    def value(e: NerEvalExec, k: String) = e.metrics(k).value
    assert(value(bad, "rows") == documents.size)
    assert(value(bad, "noModelRows") == documents.size)
    assert(value(bad, "nullRows") == 1)
    assert(value(bad, "encoderCalls") == 0 && value(bad, "tokens") == 0)
    setPath(syntheticModel("metrics.bin"))
    val good = nerExecs(docsIn(3, documents).select(Ner.ner(col("text")))).head
    val model = Ner.currentModel().get
    val tokens = documents.collect { case (_, t) if t != null =>
      WordPiece.tokenize(model.model.vocab, t, model.model.hparams.nMaxTokens).length
    }
    assert(value(good, "rows") == documents.size)
    assert(value(good, "noModelRows") == 0)
    assert(value(good, "nullRows") == 1)
    assert(value(good, "tokens") == tokens.sum)
    assert(value(good, "truncatedDocs") ==
      tokens.count(_ >= model.model.hparams.nMaxTokens))
    assert(value(good, "encoderCalls") >= 1 && value(good, "encoderTime") > 0)
    unsetPath()
  }

  test("NerEvalExec stage times: linear, attention and norm are each part of encoderTime") {
    Ner.register(spark)
    setPath(syntheticModel("stages.bin"))
    val exec = nerExecs(docsIn(3, documents).select(Ner.ner(col("text")))).head
    val stages = Seq("encoderLinearTime", "encoderAttentionTime", "encoderNormTime")
      .map(k => k -> exec.metrics(k).value)
    val encoder = exec.metrics("encoderTime").value
    assert(stages.forall(_._2 > 0) && stages.map(_._2).sum <= encoder,
      s"$stages of $encoder ns")
    unsetPath()
  }

  private def encoderHelpers: Int =
    Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .count(_.getName.startsWith("graft-ner-encoder-"))

  test("one document borrows idle slots: at most slots - 1 helpers, no growth over 20 statements") {
    Ner.register(spark)
    val p = tmp("split.bin")
    ModelFormat.write(TestModels.splitShaped("f32").model, p)
    setPath(p)
    // the JVM's helpers exist once any call has split (here, one outside
    // a task): statements must reuse them, never add to them
    val text = "duckdb is great " * 80
    Ner.evalWith(Ner.currentModel(), text, truncate = true)
    val df = () => docsIn(1, Seq((1L, text))).select(Ner.ner(col("text")))
    val first = nerExecs(df()).head
    val afterOne = encoderHelpers
    val rest = (2 to 20).map(_ => nerExecs(df()).head)
    assert(encoderHelpers == afterOne)
    // slots - 1 of local[N]; a split outside any session (no SparkEnv)
    // gates on the JVM's processors instead
    val slots = math.max(spark.sparkContext.defaultParallelism,
      Runtime.getRuntime.availableProcessors)
    assert(afterOne >= 1 && afterOne <= slots - 1, s"$afterOne helper threads")
    // the lone document's task borrowed the three idle slots at least once
    val helperNs = (first +: rest).map(_.metrics("encoderHelperTime").value)
    assert(helperNs.sum > 0, helperNs)
    unsetPath()
  }

  test("a session that never calls ner() starts no helper thread") {
    val before = encoderHelpers
    spark.range(200000).selectExpr("id % 97 AS k", "id").groupBy("k").count()
      .join(spark.range(97).withColumnRenamed("id", "k"), "k").collect()
    assert(encoderHelpers == before)
  }

  test("ner() over a lambda variable fails analysis with a clear message") {
    Ner.register(spark)
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT transform(array('duckdb is great'), x -> ner(x)) AS e")
    }
    assert(e.getMessage.contains("ner() cannot read a lambda variable"), e.getMessage)
    // a call inside a lambda over an outer column still works
    unsetPath()
    val r = nerRows("SELECT transform(array(1, 2), x -> size(ner(t))) AS n " +
      "FROM VALUES ('duckdb') AS v(t)")
    assert(r.head.getSeq[Int](0) == Seq(0, 0))
  }
}
