package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

import graft.functions._
import graft.ner.Ner

/** Session-extension entry point — the Spark analogue of the reference's
  * `LOAD ner` extension bootstrap (`src/ner_extension.cpp:238-243`):
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * injects `ner` / `ner_extract` (both arities) into every session built with
  * the extension, with no explicit `Ner.register(spark)` call. The injected
  * builder dispatches on arity, matching DuckDB's `ScalarFunctionSet`
  * overload resolution (`src/ner_extension.cpp:197-204`).
  *
  * Beyond the NER family it registers the engine's whole first-party
  * codegen'd kernel tier for SQL-only users (r12) — the reference's
  * `LOAD ner` registers its entire surface, and these are the repo's
  * analogous first-party scalar functions, otherwise reachable only
  * through the Column API:
  *
  *   - `jaro_winkler(s1, s2)` — [[graft.functions.JaroWinklerExpression]]
  *   - `damerau_levenshtein(s1, s2)` — [[graft.functions.DamerauLevenshteinExpression]]
  *   - `minhash_signature(text)` — [[graft.functions.MinHashSignatureExpression]]
  *   - `simhash(text)` — [[graft.functions.SimHashExpression]]
  *   - `rolling_hash(text)` — [[graft.functions.RollingHashExpression]]
  *   - `minimizer_offsets(text, span_len, w)` (int literals) —
  *     [[graft.functions.MinimizerOffsetsExpression]]
  *   - `nearest_centroid(vec, codebook)` — [[graft.functions.NearestCentroidExpression]]
  *   - `lsh_signature(vec, n_bits)` (int literal) —
  *     [[graft.functions.LshSignatureExpression]]
  *   - `distinct_shingles(text)` — [[graft.functions.DistinctShinglesExpression]]
  *   - `dot_f32(vec, vec)` — [[graft.functions.DotProductExpression]]
  *   - `l2sq(vec, vec)` — [[graft.functions.L2SqExpression]]
  *   - `sign_signature(vec)` — [[graft.functions.SignSignatureExpression]]
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  import GraftExtensions._

  override def apply(ext: SparkSessionExtensions): Unit = {
    Seq("ner", "ner_extract").foreach { name =>
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(classOf[Ner.type].getName, name),
        (children: Seq[Expression]) => Ner.expressionBuilder(name, Ner.ConfPath)(children)))
    }
    // ner() is evaluated only by NerEvalExec: the rule moves each call into
    // a NerEval node, the strategy plans that node
    ext.injectPreCBORule(_ => graft.ner.ExtractNer)
    ext.injectPlannerStrategy(_ => graft.ner.NerEval.Strategy)
    kernelBuilders.foreach { case (name, (clazz, builder)) =>
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(clazz, name),
        builder))
    }
    // the custom whole-operator tier: plans the native as-of and interval
    // joins (graft.plans.AsOfJoin / IntervalJoin) for sessions built with
    // the extension; each operator's install covers ad-hoc sessions via
    // experimental strategies
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoin.Strategy)
    ext.injectPlannerStrategy(_ => graft.plans.IntervalJoin.Strategy)
    // optimizer tier: push single-side filters and column pruning THROUGH
    // the custom joins so the built-in rules can carry them to the scans
    // (GraftPushdown / GraftPruning docs)
    ext.injectOptimizerRule(_ => graft.plans.GraftPushdown)
    ext.injectOptimizerRule(_ => graft.plans.GraftPruning)
  }
}

object GraftExtensions {

  private def arity(name: String, children: Seq[Expression], n: Int): Unit =
    if (children.length != n)
      throw new IllegalArgumentException(
        s"$name expects $n argument(s), got ${children.length}")

  /** Width/config parameters of the parameterized kernels are constructor
    * Ints, not runtime children — SQL callers pass them as foldable integer
    * literals, resolved here at build time (the same stance as the
    * reference's chunk-constant `truncate` argument,
    * `src/ner_extension.cpp:54-61`).
    */
  private def intLit(name: String, arg: String, e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case _ if e.foldable && e.dataType == IntegerType =>
      e.eval(null).asInstanceOf[Int]
    case _ => throw new IllegalArgumentException(
      s"$name: $arg must be an INT literal, got ${e.sql}")
  }

  private type Builder = Seq[Expression] => Expression

  private val kernelBuilders: Seq[(String, (String, Builder))] = Seq(
    "jaro_winkler" -> (classOf[JaroWinklerExpression].getName,
      (cs: Seq[Expression]) => {
        arity("jaro_winkler", cs, 2); JaroWinklerExpression(cs(0), cs(1))
      }),
    "damerau_levenshtein" -> (classOf[DamerauLevenshteinExpression].getName,
      (cs: Seq[Expression]) => {
        arity("damerau_levenshtein", cs, 2)
        DamerauLevenshteinExpression(cs(0), cs(1))
      }),
    "minhash_signature" -> (classOf[MinHashSignatureExpression].getName,
      (cs: Seq[Expression]) => {
        arity("minhash_signature", cs, 1); MinHashSignatureExpression(cs(0))
      }),
    "simhash" -> (classOf[SimHashExpression].getName,
      (cs: Seq[Expression]) => {
        arity("simhash", cs, 1); SimHashExpression(cs(0))
      }),
    "rolling_hash" -> (classOf[RollingHashExpression].getName,
      (cs: Seq[Expression]) => {
        arity("rolling_hash", cs, 1); RollingHashExpression(cs(0))
      }),
    "minimizer_offsets" -> (classOf[MinimizerOffsetsExpression].getName,
      (cs: Seq[Expression]) => {
        arity("minimizer_offsets", cs, 3)
        MinimizerOffsetsExpression(cs(0),
          intLit("minimizer_offsets", "span_len", cs(1)),
          intLit("minimizer_offsets", "w", cs(2)))
      }),
    "nearest_centroid" -> (classOf[NearestCentroidExpression].getName,
      (cs: Seq[Expression]) => {
        arity("nearest_centroid", cs, 2)
        NearestCentroidExpression(cs(0), cs(1))
      }),
    "lsh_signature" -> (classOf[LshSignatureExpression].getName,
      (cs: Seq[Expression]) => {
        arity("lsh_signature", cs, 2)
        LshSignatureExpression(cs(0), intLit("lsh_signature", "n_bits", cs(1)))
      }),
    "distinct_shingles" -> (classOf[DistinctShinglesExpression].getName,
      (cs: Seq[Expression]) => {
        arity("distinct_shingles", cs, 1); DistinctShinglesExpression(cs(0))
      }),
    "dot_f32" -> (classOf[DotProductExpression].getName,
      (cs: Seq[Expression]) => {
        arity("dot_f32", cs, 2); DotProductExpression(cs(0), cs(1))
      }),
    "l2sq" -> (classOf[L2SqExpression].getName,
      (cs: Seq[Expression]) => {
        arity("l2sq", cs, 2); L2SqExpression(cs(0), cs(1))
      }),
    "sign_signature" -> (classOf[SignSignatureExpression].getName,
      (cs: Seq[Expression]) => {
        arity("sign_signature", cs, 1); SignSignatureExpression(cs(0))
      })
  )
}
