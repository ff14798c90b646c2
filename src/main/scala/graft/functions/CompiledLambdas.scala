package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen._
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.objects.LambdaVariable
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.HIGH_ORDER_FUNCTION
import org.apache.spark.sql.types._

/** Compiled lambdas: Spark's array higher-order functions as generated
  * loops. The Velox backend runs transform/filter/exists/forall/aggregate
  * natively (SURVEY §2.10); stock Spark evaluates each of them through
  * `CodegenFallback`, one boxed `eval` per lambda node per element.
  *
  * The rule rewrites `ArrayTransform`, `ArrayFilter`, `ArrayExists`,
  * `ArrayForAll` and `ArrayAggregate` into the [[CompiledLambda]] cases
  * below when every lambda body is codegen-able once its lambda
  * variables are bound. It works bottom-up, so nested lambdas compile
  * from the inside out; a body that holds anything interpreted (a
  * `CodegenFallback` such as `ZipWith`, an `ArraySort` comparator, or a
  * nested lambda that could not compile) leaves the function as Spark's.
  *
  * In a compiled function the lambda variables are [[LoopVariable]]
  * leaves that codegen binds to primitive fields. Interpreted evaluation
  * (the path taken when codegen falls back) rebuilds Spark's own
  * function from the children and evaluates that.
  */
object CompiledLambdas extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    renumber(plan.transformUpWithPruning(_.containsPattern(HIGH_ORDER_FUNCTION)) { case p =>
      p.transformExpressionsUpWithPruning(_.containsPattern(HIGH_ORDER_FUNCTION))(compile)
    })

  /** Loop-variable ids renumbered by first occurrence, negative so never
    * an expression id: every build of one query generates the same code,
    * so the generated-code cache hits (Spark's `ReassignLambdaVariableID`). */
  private def renumber(plan: LogicalPlan): LogicalPlan = {
    val ids = plan.flatMap(_.expressions.flatMap(_.collect { case l: LoopVariable => l.v.id }))
      .distinct.zipWithIndex.toMap
    if (ids.isEmpty) plan
    else plan.transformAllExpressions { case l: LoopVariable =>
      LoopVariable(l.v.copy(id = -1L - ids(l.v.id))) }
  }

  private val compile: PartialFunction[Expression, Expression] = {
    case ArrayTransform(arg, LambdaFunction(body, args, _)) if codegenable(body) =>
      val vs = loopVars(args)
      CompiledTransform(arg, bind(body, args, vs), vs)
    case ArrayFilter(arg, LambdaFunction(body, args, _)) if codegenable(body) =>
      val vs = loopVars(args)
      CompiledFilter(arg, bind(body, args, vs), vs)
    case ArrayExists(arg, LambdaFunction(body, args, _), threeValued) if codegenable(body) =>
      val vs = loopVars(args)
      CompiledExists(arg, bind(body, args, vs), vs, threeValued)
    case ArrayForAll(arg, LambdaFunction(body, args, _)) if codegenable(body) =>
      val vs = loopVars(args)
      CompiledForAll(arg, bind(body, args, vs), vs)
    case ArrayAggregate(arg, zero, LambdaFunction(merge, mArgs, _), LambdaFunction(finish, fArgs, _))
        if codegenable(merge) && codegenable(finish) =>
      val mv = loopVars(mArgs)
      val fv = loopVars(fArgs)
      CompiledAggregate(arg, zero, bind(merge, mArgs, mv), bind(finish, fArgs, fv), mv ++ fv)
  }

  /** One of the functions this rule compiles, left interpreted because
    * a lambda body holds an interpreted expression. */
  def heldBack(e: Expression): Boolean = e match {
    case _: ArrayTransform | _: ArrayFilter | _: ArrayExists | _: ArrayForAll |
        _: ArrayAggregate => !compile.isDefinedAt(e)
    case _ => false
  }

  /** Fully codegen-able once lambda variables are bound: enclosing
    * lambdas' variables become loop variables too when those lambdas
    * compile; when they do not, this body only ever runs interpreted. */
  private def codegenable(body: Expression): Boolean = !body.exists {
    case _: NamedLambdaVariable => false
    case _: CodegenFallback => true
    case _ => false
  }

  /** Names of this rule's loop variables; the generated fields are
    * named after them. */
  private val VarNames = Seq("hofArg0", "hofArg1")

  /** Fixed names, and the lambda variable's expression id until
    * [[renumber]] replaces it. */
  private def loopVars(args: Seq[NamedExpression]): Seq[LoopVariable] =
    args.zip(VarNames).map { case (a, name) =>
      LoopVariable(LambdaVariable(name, a.dataType, a.nullable, a.exprId.id))
    }

  private def bind(body: Expression, args: Seq[NamedExpression],
      vars: Seq[LoopVariable]): Expression = {
    val byId = args.map(_.exprId).zip(vars).toMap
    body.transform { case v: NamedLambdaVariable if byId.contains(v.exprId) => byId(v.exprId) }
  }

  /** Spark's lambda over `body`: the loop variables become fresh
    * `NamedLambdaVariable`s (the interpreted reference). */
  private[functions] def sparkLambda(body: Expression, vars: Seq[LoopVariable]): LambdaFunction = {
    val named = vars.map(l => NamedLambdaVariable(l.v.name, l.dataType, l.nullable))
    val byVar = vars.zip(named).toMap
    LambdaFunction(body.transform {
      case v: LoopVariable if byVar.contains(v) => byVar(v)
    }, named)
  }

  /** Lambda variables read in `e` and not bound by a compiled lambda
    * inside it. */
  private def freeVars(e: Expression): Set[LambdaVariable] = e match {
    case l: LoopVariable => Set(l.v)
    case v: LambdaVariable => Set(v)
    case c: CompiledLambda => c.children.flatMap(freeVars).toSet -- c.loopVars.map(_.v)
    case _ => e.children.flatMap(freeVars).toSet
  }

  /** Lambda-invariant hoisting. Wraps each maximal deterministic subtree
    * of `body` that reads none of `own`'s variables (nor a variable of a
    * lambda nested in `body` around it) in a [[Hoisted]] cell, one cell
    * per distinct subtree. Variables of other loops (an encoder's
    * `MapObjects`) keep their subtree in place. Returns the new body and
    * the code that empties the cells; the loop runs that once per row,
    * before its first element, and a cell fills at its first use inside
    * the loop. */
  private[functions] def hoist(ctx: CodegenContext, body: Expression,
      own: Seq[LoopVariable]): (Expression, String) = {
    val cells = mutable.LinkedHashMap[Expression, Hoisted]()
    def go(e: Expression, banned: Set[LambdaVariable]): Expression = e match {
      case _: LeafExpression | _: Hoisted => e
      case _ if e.deterministic &&
          freeVars(e).forall(v => VarNames.contains(v.name) && !banned(v)) =>
        cells.getOrElseUpdate(e.canonicalized, Hoisted(e,
          ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "hoistedDone"),
          ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "hoistedIsNull"),
          ctx.addMutableState(CodeGenerator.javaType(e.dataType), "hoistedValue")))
      case c: CompiledLambda => c.mapChildren(go(_, banned ++ c.loopVars.map(_.v)))
      case _ => e.mapChildren(go(_, banned))
    }
    val hoisted = go(body, own.map(_.v).toSet)
    (hoisted, cells.values.map(h => s"${h.done} = false;").mkString("\n"))
  }

  /** `InternalRow.copyValue` in generated code */
  private[functions] def copied(dt: DataType, v: String): String = dt match {
    case _: StringType | _: StructType | _: ArrayType | _: MapType => s"$v.copy()"
    case u: UserDefinedType[_] => copied(u.sqlType, v)
    case _ => v
  }

  /** `arr[i] = value`, null when `b` is null */
  private[functions] def store(arr: String, dt: DataType, i: String, isNull: String,
      value: String): String =
    s"""if ($isNull) {
       |  $arr.setNullAt($i);
       |} else {
       |  ${CodeGenerator.setArrayElement(arr, dt, i, value)}
       |}""".stripMargin

  /** assigns a loop variable's fields */
  private[functions] def assign(v: ExprCode, isNull: String, value: String): String =
    (if (v.isNull.isInstanceOf[LiteralValue]) "" else s"${v.isNull} = $isNull;\n") +
      s"${v.value} = $value;"
}

/** A compiled loop's variable: Spark's `objects.LambdaVariable` held as a
  * field, not a child, since subexpression elimination skips any tree
  * with its `LAMBDA_VARIABLE` pattern. Elimination still never reaches a
  * loop variable: a [[CompiledLambda]] always evaluates its array alone. */
case class LoopVariable(v: LambdaVariable) extends LeafExpression with NonSQLExpression {
  override def dataType: DataType = v.dataType
  override def nullable: Boolean = v.nullable
  override def eval(input: InternalRow): Any = v.eval(input)
  override def genCode(ctx: CodegenContext): ExprCode = v.genCode(ctx)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = ev
  override def toString: String = s"${v.name}#${v.id}"
}

/** A lambda-invariant subtree evaluated at most once per row: the first
  * use fills the cell, later elements read it. Exists only inside
  * generated code (see [[CompiledLambdas.hoist]]). */
private[functions] case class Hoisted(child: Expression, done: String, isNullField: String,
    valueField: String) extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def eval(input: InternalRow): Any = child.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ExprCode(
      code"""
        |if (!$done) {
        |  ${c.code}
        |  $isNullField = ${c.isNull};
        |  $valueField = ${c.value};
        |  $done = true;
        |}""".stripMargin,
      JavaCode.isNullGlobal(isNullField), JavaCode.global(valueField, dataType))
  }
  override protected def withNewChildInternal(c: Expression): Hoisted = copy(child = c)
}

/** The shared loop compiler behind the five compiled higher-order
  * functions. Each case supplies only what it does per row around the
  * loop ([[perRow]]); this trait evaluates the array argument, binds the
  * element (and index) variables, hoists the body's invariants and emits
  * the loop.
  *
  * Only the array argument is always evaluated: subexpression
  * elimination looks at it alone (`ConditionalExpression`), so nothing
  * in a lambda body is lifted out to run before, or without, the loop.
  */
sealed trait CompiledLambda extends ConditionalExpression {
  def argument: Expression
  /** the lambda variables, bound by this function; children */
  def loopVars: Seq[LoopVariable]
  /** Spark's own higher-order function over the same children */
  def reference: Expression

  override def alwaysEvaluatedInputs: Seq[Expression] = Seq(argument)
  override def branchGroups: Seq[Seq[Expression]] = Nil
  override def eval(input: InternalRow): Any = reference.eval(input)

  /** Copies of one function (each use of a `Column` resolves its lambdas
    * afresh) compare equal: variables renumbered as `HigherOrderFunction`'s. */
  override lazy val canonicalized: Expression = {
    val ids = collect { case l: LoopVariable => l.v.id }.distinct.zipWithIndex.toMap
    val renumbered = transformUp { case l: LoopVariable => LoopVariable(l.v.copy(id = ids(l.v.id))) }
    renumbered.withNewChildren(renumbered.children.map(_.canonicalized))
  }

  /** Code run when the array `arr` of `n` elements is not null; it sets
    * `ev.value` and, for a nullable result, `ev.isNull`. */
  protected def perRow(ctx: CodegenContext, ev: ExprCode, arr: String, n: String): String

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a = argument.genCode(ctx)
    val arr = ctx.freshName("arr")
    val n = ctx.freshName("n")
    ev.copy(code = code"""
      |${a.code}
      |boolean ${ev.isNull} = ${a.isNull};
      |${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      |if (!${a.isNull}) {
      |  ArrayData $arr = ${a.value};
      |  int $n = $arr.numElements();
      |  ${perRow(ctx, ev, arr, n)}
      |}""".stripMargin)
  }

  /** `for (i = 0; i < n && cond; i++)` with `elem` (and `index`) bound to
    * element i, `body`'s invariants hoisted, and `step` consuming the
    * body's result. */
  protected def loop(ctx: CodegenContext, arr: String, n: String, body: Expression,
      elem: LoopVariable, index: Option[LoopVariable], cond: String = "true")
      (step: (String, ExprCode) => String): String = {
    val i = ctx.freshName("i")
    val e = LambdaVariable.prepareLambdaVariable(ctx, elem.v)
    val bindIndex = index.map { l =>
      CompiledLambdas.assign(LambdaVariable.prepareLambdaVariable(ctx, l.v), "false", i)
    }.getOrElse("")
    val (hoisted, resets) = CompiledLambdas.hoist(ctx, body, loopVars)
    val b = hoisted.genCode(ctx)
    val get = CodeGenerator.getValue(arr, elem.dataType, i)
    val bindElem =
      if (elem.nullable) CompiledLambdas.assign(e, s"$arr.isNullAt($i)",
        s"${e.isNull} ? ${CodeGenerator.defaultValue(elem.dataType)} : $get")
      else CompiledLambdas.assign(e, "false", get)
    s"""$resets
       |for (int $i = 0; $i < $n && $cond; $i++) {
       |  $bindElem
       |  $bindIndex
       |  ${b.code}
       |  ${step(i, b)}
       |}""".stripMargin
  }

  protected def varsFrom(children: Seq[Expression], from: Int): Seq[LoopVariable] =
    children.drop(from).map(_.asInstanceOf[LoopVariable])
}

/** `transform(arr, (x[, i]) -> f)`: results copied like
  * `InternalRow.copyValue`, as Spark's `ArrayTransform` does. */
case class CompiledTransform(argument: Expression, body: Expression, loopVars: Seq[LoopVariable])
    extends CompiledLambda {
  @transient lazy val reference: Expression =
    ArrayTransform(argument, CompiledLambdas.sparkLambda(body, loopVars))
  override def dataType: DataType = ArrayType(body.dataType, body.nullable)
  override def nullable: Boolean = argument.nullable
  override def children: Seq[Expression] = argument +: body +: loopVars
  override def withNewAlwaysEvaluatedInputs(in: Seq[Expression]): CompiledTransform =
    copy(argument = in.head)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): CompiledTransform =
    copy(argument = c(0), body = c(1), loopVars = varsFrom(c, 2))

  override protected def perRow(ctx: CodegenContext, ev: ExprCode, arr: String, n: String)
      : String = {
    val out = ctx.freshName("out")
    s"""${CodeGenerator.createArrayData(out, body.dataType, n, "transform")}
       |${loop(ctx, arr, n, body, loopVars.head, loopVars.lift(1)) { (i, b) =>
            CompiledLambdas.store(out, body.dataType, i, b.isNull.toString,
              CompiledLambdas.copied(body.dataType, b.value.toString))
          }}
       |${ev.value} = $out;""".stripMargin
  }
}

/** `filter(arr, (x[, i]) -> p)`: keeps the elements whose predicate is
  * true (null counts as false), uncopied, as Spark's `ArrayFilter`. */
case class CompiledFilter(argument: Expression, body: Expression, loopVars: Seq[LoopVariable])
    extends CompiledLambda {
  @transient lazy val reference: Expression =
    ArrayFilter(argument, CompiledLambdas.sparkLambda(body, loopVars))
  override def dataType: DataType = argument.dataType
  override def nullable: Boolean = argument.nullable
  override def children: Seq[Expression] = argument +: body +: loopVars
  override def withNewAlwaysEvaluatedInputs(in: Seq[Expression]): CompiledFilter =
    copy(argument = in.head)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): CompiledFilter =
    copy(argument = c(0), body = c(1), loopVars = varsFrom(c, 2))

  override protected def perRow(ctx: CodegenContext, ev: ExprCode, arr: String, n: String)
      : String = {
    val keep = ctx.freshName("keep")
    val kept = ctx.freshName("kept")
    val out = ctx.freshName("out")
    val j = ctx.freshName("j")
    val k = ctx.freshName("k")
    val et = argument.dataType.asInstanceOf[ArrayType].elementType
    s"""boolean[] $keep = new boolean[$n];
       |int $kept = 0;
       |${loop(ctx, arr, n, body, loopVars.head, loopVars.lift(1)) { (i, b) =>
            s"if (!${b.isNull} && ${b.value}) { $keep[$i] = true; $kept++; }"
          }}
       |${CodeGenerator.createArrayData(out, et, kept, "filter")}
       |int $j = 0;
       |for (int $k = 0; $k < $n; $k++) {
       |  if ($keep[$k]) {
       |    ${CompiledLambdas.store(out, et, j, s"$arr.isNullAt($k)",
              CodeGenerator.getValue(arr, et, k))}
       |    $j++;
       |  }
       |}
       |${ev.value} = $out;""".stripMargin
  }
}

/** `exists(arr, x -> p)`: true at the first true predicate; otherwise null
  * if a predicate was null under three-valued logic, else false. */
case class CompiledExists(argument: Expression, body: Expression, loopVars: Seq[LoopVariable],
    followThreeValuedLogic: Boolean) extends CompiledLambda with Predicate {
  @transient lazy val reference: Expression =
    ArrayExists(argument, CompiledLambdas.sparkLambda(body, loopVars), followThreeValuedLogic)
  override def nullable: Boolean =
    argument.nullable || (followThreeValuedLogic && body.nullable)
  override def children: Seq[Expression] = argument +: body +: loopVars
  override def withNewAlwaysEvaluatedInputs(in: Seq[Expression]): CompiledExists =
    copy(argument = in.head)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): CompiledExists =
    copy(argument = c(0), body = c(1), loopVars = varsFrom(c, 2))

  override protected def perRow(ctx: CodegenContext, ev: ExprCode, arr: String, n: String)
      : String = {
    val found = ctx.freshName("found")
    val sawNull = ctx.freshName("sawNull")
    s"""boolean $found = false;
       |boolean $sawNull = false;
       |${loop(ctx, arr, n, body, loopVars.head, None, s"!$found") { (_, b) =>
            s"if (${b.isNull}) { $sawNull = true; } else if (${b.value}) { $found = true; }"
          }}
       |${ev.value} = $found;
       |${ev.isNull} = ${followThreeValuedLogic} && !$found && $sawNull;""".stripMargin
  }
}

/** `forall(arr, x -> p)`: false at the first false predicate; otherwise
  * null if a predicate was null, else true. */
case class CompiledForAll(argument: Expression, body: Expression, loopVars: Seq[LoopVariable])
    extends CompiledLambda with Predicate {
  @transient lazy val reference: Expression =
    ArrayForAll(argument, CompiledLambdas.sparkLambda(body, loopVars))
  override def nullable: Boolean = argument.nullable || body.nullable
  override def children: Seq[Expression] = argument +: body +: loopVars
  override def withNewAlwaysEvaluatedInputs(in: Seq[Expression]): CompiledForAll =
    copy(argument = in.head)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): CompiledForAll =
    copy(argument = c(0), body = c(1), loopVars = varsFrom(c, 2))

  override protected def perRow(ctx: CodegenContext, ev: ExprCode, arr: String, n: String)
      : String = {
    val all = ctx.freshName("all")
    val sawNull = ctx.freshName("sawNull")
    s"""boolean $all = true;
       |boolean $sawNull = false;
       |${loop(ctx, arr, n, body, loopVars.head, None, all) { (_, b) =>
            s"if (${b.isNull}) { $sawNull = true; } else if (!${b.value}) { $all = false; }"
          }}
       |${ev.value} = $all;
       |${ev.isNull} = $all && $sawNull;""".stripMargin
  }
}

/** `aggregate(arr, zero, (acc, x) -> merge, acc -> finish)`: `zero` runs
  * only for a non-null array, each merge result is copied into the
  * accumulator like `InternalRow.copyValue`, and `finish` runs once over
  * the final accumulator, as Spark's `ArrayAggregate`. `loopVars` holds
  * merge's (acc, x) and then finish's acc. */
case class CompiledAggregate(argument: Expression, zero: Expression, merge: Expression,
    finish: Expression, loopVars: Seq[LoopVariable]) extends CompiledLambda {
  @transient lazy val reference: Expression = ArrayAggregate(argument, zero,
    CompiledLambdas.sparkLambda(merge, loopVars.take(2)), CompiledLambdas.sparkLambda(finish, loopVars.drop(2)))
  override def dataType: DataType = finish.dataType
  override def nullable: Boolean = argument.nullable || finish.nullable
  override def children: Seq[Expression] = Seq(argument, zero, merge, finish) ++ loopVars
  override def withNewAlwaysEvaluatedInputs(in: Seq[Expression]): CompiledAggregate =
    copy(argument = in.head)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): CompiledAggregate =
    copy(argument = c(0), zero = c(1), merge = c(2), finish = c(3), loopVars = varsFrom(c, 4))

  override protected def perRow(ctx: CodegenContext, ev: ExprCode, arr: String, n: String)
      : String = {
    val Seq(accVar, elemVar, finishVar) = loopVars
    val acc = LambdaVariable.prepareLambdaVariable(ctx, accVar.v)
    val fin = LambdaVariable.prepareLambdaVariable(ctx, finishVar.v)
    val z = zero.genCode(ctx)
    val f = finish.genCode(ctx)
    s"""${z.code}
       |${CompiledLambdas.assign(acc, z.isNull.toString, z.value.toString)}
       |${loop(ctx, arr, n, merge, elemVar, None) { (_, m) =>
            CompiledLambdas.assign(acc, m.isNull.toString,
              s"${m.isNull} ? ${CodeGenerator.defaultValue(accVar.dataType)} : " +
                CompiledLambdas.copied(accVar.dataType, m.value.toString))
          }}
       |${CompiledLambdas.assign(fin, acc.isNull.toString, acc.value.toString)}
       |${f.code}
       |${ev.isNull} = ${f.isNull};
       |${ev.value} = ${f.value};""".stripMargin
  }
}
