package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{aggregate, col, lit, sequence, transform, udf}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Differential spec for `graft.functions.CompiledLambdas`: every
  * compiled higher-order function returns what Spark's own interpreted
  * one returns, bit for bit, with whole-stage codegen on and off, with
  * plain (non-whole-stage) projections interpreted, and with ANSI on and
  * off. The reference is the same session with the rule excluded
  * (`spark.sql.optimizer.excludedRules`), i.e. Spark's `ArrayTransform`
  * & co.
  */
class CompiledLambdasSpec extends AnyFunSuite {
  private lazy val spark = GraftSparkSession.spark
  private val Rule = "graft.functions.CompiledLambdas"

  /** Rows cover null and empty arrays, null elements, strings that do
    * not parse as numbers, and a captured outer column `n`. */
  private lazy val table: DataFrame = {
    val st = ArrayType(StructType(Seq(StructField("k", IntegerType), StructField("v", StringType))))
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("n", IntegerType),
      StructField("s", StringType), StructField("a", ArrayType(IntegerType)),
      StructField("ds", ArrayType(DoubleType)), StructField("strs", ArrayType(StringType)),
      StructField("st", st)))
    val rows = Seq(
      Row(1, 2, "a b c d e f", Seq(1, 2, 3), Seq(1.5, -2.25, 1e-3), Seq("x", "yy", null),
        Seq(Row(1, "p"), Row(2, null))),
      Row(2, null, "7", Seq(4, null, 6), Seq(0.1, 0.2, 0.3, Double.NaN), Seq("", "z"), Seq(null, Row(3, "q"))),
      Row(3, 5, "not a number", Seq(), Seq(), Seq(), Seq()),
      Row(4, 0, "one two three four", null, null, null, null),
      Row(5, -1, "", Seq(null, null), Seq(-0.0, 0.0), Seq(null), Seq(Row(null, null))),
      Row(6, 3, "12", Seq(10, -10, 3, 7, 0), Seq(1e300, 1e300, -1e-300), Seq("a", "b", "c", "d"),
        Seq(Row(4, "r"), Row(5, "s"), Row(6, "t"))))
    val dir = java.nio.file.Files.createTempDirectory("compiled_lambdas").resolve("t").toString
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.parquet(dir)
    spark.read.parquet(dir)
  }

  private val exprs = Seq(
    // transform: element, (x, i), captured column, string and struct
    // results that alias the input, nested lambdas, hoisted invariants
    "transform(a, x -> x + n)",
    "transform(a, (x, i) -> x * i)",
    "transform(strs, x -> x)",
    "transform(strs, x -> concat(x, s))",
    "transform(st, x -> x)",
    "transform(st, x -> named_struct('k', x.k + n, 'v', upper(x.v)))",
    "transform(a, x -> transform(a, y -> x * y + n))",
    "transform(a, (x, i) -> filter(a, y -> y > x + i))",
    "transform(a, x -> aggregate(a, 0L, (acc, y) -> acc + coalesce(y, x)))",
    "if(size(split(s, ' ')) >= 4, transform(sequence(1, size(split(s, ' ')) - 3), " +
      "i -> array_join(slice(split(s, ' '), i, 4), ' ')), array())",
    // filter: null predicates drop the element
    "filter(a, x -> x % 2 = 0)",
    "filter(a, (x, i) -> i % 2 = 0)",
    "filter(strs, x -> length(x) > length(s) - 8)",
    "filter(st, x -> x.k > n)",
    // exists / forall: three-valued logic over null elements
    "exists(a, x -> x > n)",
    "exists(a, x -> x is null)",
    "forall(a, x -> x > 0)",
    "forall(a, x -> x < n)",
    "forall(strs, x -> exists(a, y -> y = length(x)))",
    // aggregate: double folds (the ev_ewma_smoothing shape), finish,
    // string / struct / null accumulators
    "aggregate(ds, 0.0d, (acc, x) -> acc * 0.7 + x * 0.3)",
    "aggregate(ds, 0.0d, (acc, x) -> acc + x, acc -> acc / greatest(size(ds), 1))",
    "aggregate(strs, s, (acc, x) -> concat(acc, coalesce(x, '?')))",
    "aggregate(a, named_struct('s', 0L, 'c', 0), " +
      "(acc, x) -> named_struct('s', acc.s + coalesce(x, n), 'c', acc.c + 1), acc -> acc.s * 10 + acc.c)",
    "aggregate(a, cast(null as int), (acc, x) -> coalesce(acc, 0) + x)",
    "aggregate(transform(ds, x -> x * x), 0.0d, (acc, x) -> acc + x, acc -> sqrt(acc))")

  private def withConfs[A](kvs: (String, String)*)(f: => A): A = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** values with doubles as their raw bits, so -0.0, NaN and the last
    * ulp all count */
  private def canon(v: Any): Any = v match {
    case d: Double => ("d", java.lang.Double.doubleToRawLongBits(d))
    case r: Row => r.toSeq.map(canon)
    case s: scala.collection.Seq[_] => s.map(canon)
    case other => other
  }

  private def run(expr: String): Seq[Any] =
    table.selectExpr("id", s"$expr AS r").orderBy("id").collect().toSeq.map(canon)

  private val modes = Seq(
    "whole-stage" -> Seq("spark.sql.codegen.wholeStage" -> "true"),
    "projection codegen" -> Seq("spark.sql.codegen.wholeStage" -> "false"),
    "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  for ((mode, confs) <- modes; ansi <- Seq("true", "false"))
    test(s"compiled lambdas match Spark's ($mode, ANSI $ansi)") {
      withConfs(confs :+ ("spark.sql.ansi.enabled" -> ansi): _*) {
        for (e <- exprs) {
          val want = withConfs("spark.sql.optimizer.excludedRules" -> Rule)(run(e))
          assert(run(e) == want, s"$e differs")
        }
      }
    }

  test("every compiled lambda leaves no interpreted expression in the plan") {
    for (e <- exprs) {
      val plan = table.selectExpr(s"$e AS r").queryExecution.executedPlan
      assert(PlanHealth.codegenFallbacks(plan).isEmpty, s"$e: $plan")
    }
  }

  test("a hoisted invariant that throws under ANSI is never evaluated over an empty array") {
    withConfs("spark.sql.ansi.enabled" -> "true") {
      for (e <- Seq("transform(a, x -> x + cast(s AS INT))",
          "transform(a, x -> if(x > 100, cast(s AS INT), x))")) {
        // ids 3 ('not a number', []) and 4 (null array) never reach the cast
        def q = table.filter("id IN (3, 4, 6)").selectExpr("id", s"$e AS r").orderBy("id")
        val want = withConfs("spark.sql.optimizer.excludedRules" -> Rule)(q.collect().toSeq)
        assert(q.collect().toSeq == want)
        assert(want.head == Row(3, Seq()))
      }
      // a non-empty array over an unparsable string fails, as Spark's does
      def bad = table.filter("id = 3 OR id = 1")
        .selectExpr("transform(array(1), x -> x + cast(s AS INT))").collect()
      val refErr = intercept[Exception](
        withConfs("spark.sql.optimizer.excludedRules" -> Rule)(bad))
      val err = intercept[Exception](bad)
      assert(err.getMessage.contains("CAST_INVALID_INPUT") &&
        refErr.getMessage.contains("CAST_INVALID_INPUT"))
    }
  }

  test("a subtree that reads another loop's variable is not hoisted out of that loop") {
    // MapObjects (the encoders' loop) inside a lambda body: `y * 10`
    // reads MapObjects' variable, not the lambda's, and must still run
    // per MapObjects element
    import org.apache.spark.sql.catalyst.expressions.{Add, Literal, Multiply}
    import org.apache.spark.sql.catalyst.expressions.objects.MapObjects
    import org.apache.spark.sql.graft.ColumnBridge
    def q = table.select(col("id"), transform(col("a"), x => ColumnBridge.column(MapObjects(
      (y: org.apache.spark.sql.catalyst.expressions.Expression) =>
        Add(Multiply(y, Literal(10)), ColumnBridge.expression(x)),
      ColumnBridge.expression(col("a")), IntegerType))).as("r")).orderBy("id")
    val want = withConfs("spark.sql.optimizer.excludedRules" -> Rule)(q.collect().toSeq)
    assert(q.collect().toSeq == want)
    assert(want.head == Row(1, Seq(Seq(11, 21, 31), Seq(12, 22, 32), Seq(13, 23, 33))))
  }

  test("a lambda-invariant subtree runs at most once per row") {
    // the closure reads the counter statically: a captured one would be
    // a deserialized copy in the task
    val probe = udf((s: String) => { CompiledLambdasSpec.calls.incrementAndGet(); s.length })
    val calls = CompiledLambdasSpec.calls
    def q = table.select(col("id"), transform(col("a"), x => x + probe(col("s"))).as("r"))
    calls.set(0)
    val got = q.collect()
    // `x + probe(s)` skips probe for a null x, so three rows reach it;
    // the interpreted reference calls it once per non-null element
    // (3 + 2 + 5)
    assert(calls.get == 3)
    calls.set(0)
    val want = withConfs("spark.sql.optimizer.excludedRules" -> Rule)(q.collect())
    assert(calls.get == 10)
    assert(got.map(canon).toSeq == want.map(canon).toSeq)
  }

  test("a compiled lambda used three times in one projection runs once per row") {
    // subexpression elimination evaluates the common aggregate once, as
    // it does Spark's own: 5 probes for the 5 elements, not 15
    val probe = udf((w: Long) => { CompiledLambdasSpec.calls.incrementAndGet(); w })
    val calls = CompiledLambdasSpec.calls
    def q = {
      val agg = aggregate(transform(col("a"), w => probe(w)), lit(0L), (acc, x) => acc + x)
      spark.range(1).select(sequence(col("id") + 1, col("id") + 5).as("a"))
        .select(agg.as("x"), (agg + 1).as("y"), (agg * 2).as("z"))
    }
    assert(q.queryExecution.optimizedPlan.exists(_.expressions.exists(
      _.exists(_.isInstanceOf[graft.functions.CompiledAggregate]))))
    calls.set(0)
    val got = q.collect().toSeq
    assert(calls.get == 5)
    calls.set(0)
    val want = withConfs("spark.sql.optimizer.excludedRules" -> Rule)(q.collect().toSeq)
    assert(calls.get == 5)
    assert(got == want && got == Seq(Row(15L, 16L, 30L)))
  }
}

object CompiledLambdasSpec {
  val calls = new AtomicInteger()
}
