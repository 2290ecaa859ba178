package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Capability-parity layer for the reference's per-record transform chain
 * (reference: transformer chain exec core/.../transport/exchanger/
 * TransformerExchanger.java:53-127; UDF docs transformer/doc/transformer.md:
 * 11-87). Each dx_* becomes a Catalyst `Column` expression — codegen'd,
 * vectorizable, no UDF in the hot path.
 *
 * Semantic quirks preserved (SURVEY.md §7.4 risk 5):
 *  - dx_substr: null passes through; start beyond string length is an error
 *    in the reference (routes to dirty) — here surfaced as null + a dirty
 *    rule, composable with [[graft.cdc.Dirty]];
 *  - dx_pad: null treated as "" and padded (reference PadTransformer.java:15-91);
 *    over-long input truncated to `len`;
 *  - dx_replace: splice semantics (prefix + replacement + suffix past
 *    start+len), reference ReplaceTransformer.java:15-66;
 *  - dx_filter: DataX's null rules are NOT SQL 3VL (reference
 *    FilterTransformer.java:74-77, 134-137, 205-212, 255-262): range
 *    operators never match null; `= "null"` matches only null; like/not-like
 *    are full-match Java regex on the string form.
 */
object DataXTransforms {

  /** dx_substr(col, startIdx, length) — 0-based like the reference. Returns
    * null for null input; null (dirty) when startIdx > length(str). */
  def dxSubstr(c: Column, startIdx: Int, len: Int): Column =
    when(c.isNull, lit(null).cast("string"))
      .when(length(c) < startIdx, lit(null).cast("string"))
      .otherwise(substring(c, startIdx + 1, len))

  /** dx_pad(col, "l"|"r", len, padStr): null -> "", truncate over-long. */
  def dxPad(c: Column, leftOrRight: String, len: Int, padStr: String): Column = {
    val s = coalesce(c, lit(""))
    val padded = leftOrRight.toLowerCase match {
      case "l" => lpad(s, len, padStr)
      case "r" => rpad(s, len, padStr)
      case other => throw new IllegalArgumentException(s"dx_pad mode '$other'")
    }
    padded
  }

  /** dx_replace(col, startIdx, length, replaceStr) — splice-replace. */
  def dxReplace(c: Column, startIdx: Int, len: Int, replaceStr: String): Column =
    when(c.isNull, lit(null).cast("string"))
      .otherwise(concat(
        substring(c, 1, startIdx),
        lit(replaceStr),
        when(length(c) > startIdx + len, substring(c, startIdx + len + 1, Int.MaxValue))
          .otherwise(lit(""))))

  /** dx_filter predicate: TRUE means the row is DROPPED (the reference drops
    * on match). Use as `df.filter(!dxFilterPred(...))` to keep survivors. */
  def dxFilterPred(c: Column, op: String, value: String): Column = op match {
    case "like" =>
      // Java-regex FULL match on the string form; null never matches.
      c.isNotNull && regexp_like(c.cast("string"), lit(s"^(?:$value)$$"))
    case "not like" =>
      c.isNotNull && !regexp_like(c.cast("string"), lit(s"^(?:$value)$$"))
    case "=" =>
      // `= "null"` matches only SQL null (FilterTransformer.java:74-77).
      if (value == "null") c.isNull else c.isNotNull && c.cast("string") === value
    case "!=" =>
      if (value == "null") c.isNotNull else c.isNotNull && c.cast("string") =!= value
    case ">" | "<" | ">=" | "<=" =>
      // typed compare: numeric if both sides numeric, else string; null
      // never participates in range compares (FilterTransformer.java:205-212).
      val cmp =
        if (scala.util.Try(value.toDouble).isSuccess)
          (c.cast("double"), lit(value.toDouble))
        else (c.cast("string"), lit(value))
      val p = op match {
        case ">" => cmp._1 > cmp._2
        case "<" => cmp._1 < cmp._2
        case ">=" => cmp._1 >= cmp._2
        case "<=" => cmp._1 <= cmp._2
      }
      c.isNotNull && coalesce(p, lit(false))
    case other => throw new IllegalArgumentException(s"dx_filter op '$other'")
  }

  /**
   * ColumnCast string->timestamp ladder (reference: common/.../element/
   * ColumnCast.java:87-117): try datetime format, then date, then time, then
   * extraFormats — as one codegen'd coalesce of try-parses.
   */
  def castLadderTimestamp(c: Column,
      datetimeFmt: String = "yyyy-MM-dd HH:mm:ss",
      dateFmt: String = "yyyy-MM-dd",
      timeFmt: String = "HH:mm:ss",
      extraFormats: Seq[String] = Seq("yyyyMMdd", "yyyy/MM/dd")): Column = {
    val fmts = Seq(datetimeFmt, dateFmt, timeFmt) ++ extraFormats
    coalesce(fmts.map(f => try_to_timestamp(c, lit(f))): _*)
  }

  /** LongColumn overflow semantics (reference: common/.../element/
    * OverFlowUtil.java:23-37): values outside Long range are errors, not
    * silent wraps. try_cast yields null -> routable to dirty. */
  def checkedLong(c: Column): Column = c.try_cast("long")

  // ---- transform chain (job-config parity) --------------------------------

  sealed trait Transform
  final case class Substr(column: String, startIdx: Int, len: Int) extends Transform
  final case class Pad(column: String, mode: String, len: Int, pad: String) extends Transform
  final case class Replace(column: String, startIdx: Int, len: Int, rep: String) extends Transform
  final case class Filter(column: String, op: String, value: String) extends Transform
  /** Arbitrary compile-time rewrite as a DataFrame function. */
  final case class Custom(apply: DataFrame => DataFrame) extends Transform
  /** dx_groovy parity: a USER-SUPPLIED Scala snippet compiled at RUNTIME,
    * once per distinct source (the reference compiles user Groovy once per
    * job, reference: core/.../transformer/GroovyTransformer.java:17-91).
    * The snippet body sees `df: DataFrame` with sql functions imported and
    * must evaluate to a DataFrame. */
  final case class Script(code: String) extends Transform
  /** ComplexTransformer parity (reference: transformer/.../
    * ComplexTransformer.java evaluate(record, tContext, paras); context wired
    * from job JSON via TransformerExecutionParas.java tContext): a
    * multi-column rewrite whose user code additionally receives a `ctx`
    * config map. The snippet sees `df: DataFrame` and
    * `ctx: Map[String, String]` and evaluates to a DataFrame — whole-row
    * scope, so it can read/write any number of columns at once. */
  final case class MapT(context: Map[String, String], code: String) extends Transform
  /** A transform registered by name in [[TransformRegistry]] (the reference's
    * third-party transformer registry, TransformerRegistry.java:23-177). */
  final case class Named(name: String, context: Map[String, String]) extends Transform

  /** Sequential fold over the chain, like TransformerExchanger: filters drop
    * rows, scalar transforms rewrite one column. */
  def applyChain(df: DataFrame, chain: Seq[Transform]): DataFrame =
    chain.foldLeft(df) {
      case (d, Substr(colName, s, l)) => d.withColumn(colName, dxSubstr(col(colName), s, l))
      case (d, Pad(colName, m, l, p)) => d.withColumn(colName, dxPad(col(colName), m, l, p))
      case (d, Replace(colName, s, l, r)) =>
        d.withColumn(colName, dxReplace(col(colName), s, l, r))
      case (d, Filter(colName, op, v)) => d.filter(!dxFilterPred(col(colName), op, v))
      case (d, Custom(f)) => f(d)
      case (d, Script(code)) => ScriptCompiler.compile(code)(d)
      case (d, MapT(ctx, code)) => ScriptCompiler.compileWithContext(code)(d, ctx)
      case (d, Named(name, ctx)) => TransformRegistry.resolve(name).getOrElse(
        throw new IllegalArgumentException(s"transformer '$name' not registered; " +
          s"registered: ${TransformRegistry.names.sorted.mkString(", ")}"))(d, ctx)
    }
}

/**
 * Name registry for transforms callable from job JSON — the engine-side
 * analogue of the reference's TransformerRegistry (core/.../transformer/
 * TransformerRegistry.java:23-177): natives own the `dx_` namespace, user
 * registrations must stay out of it, duplicates are rejected. Where the
 * reference isolates third-party code behind per-jar classloaders, here a
 * registration is a plain `(DataFrame, ctx) => DataFrame` — the user function
 * still produces a Catalyst plan, so registered logic keeps pushdown/codegen
 * instead of a row-at-a-time escape hatch.
 */
object TransformRegistry {
  import scala.collection.concurrent.TrieMap

  /** A whole-row transform taking the lane's frame and the job-config
    * context map (the reference's tContext). */
  type ComplexFn = (DataFrame, Map[String, String]) => DataFrame

  private val registered = TrieMap.empty[String, ComplexFn]

  /** Register a user transform. Names in the reserved `dx_` namespace or
    * already taken are rejected (TransformerRegistry.java:147-164). */
  def register(name: String, fn: ComplexFn): Unit = {
    require(!name.startsWith("dx_"),
      s"transformer name '$name': the dx_ namespace is reserved for natives")
    val prior = registered.putIfAbsent(name, fn)
    require(prior.isEmpty, s"transformer '$name' already registered")
  }

  def resolve(name: String): Option[ComplexFn] = registered.get(name)
  def names: Seq[String] = registered.keys.toSeq
  /** Test hook — the reference has no unregister; jobs re-register on boot. */
  private[graft] def unregister(name: String): Unit = registered.remove(name)
}

/**
 * Runtime Scala compilation for [[DataXTransforms.Script]] — the engine-side
 * machinery of dx_groovy: user code arrives as text in the job config, is
 * compiled ONCE per distinct source (ToolBox, cached), and runs as a plain
 * `DataFrame => DataFrame`. Because the result is still a DataFrame plan,
 * user logic composes with Catalyst (pushdown/codegen) instead of forcing a
 * row-at-a-time escape hatch like the reference's per-record Groovy call.
 */
object ScriptCompiler {
  import scala.collection.concurrent.TrieMap
  import scala.tools.reflect.ToolBox

  private lazy val toolbox = scala.reflect.runtime.currentMirror.mkToolBox()
  private val cache = TrieMap.empty[String, DataFrame => DataFrame]
  private val ctxCache = TrieMap.empty[String, (DataFrame, Map[String, String]) => DataFrame]

  def compile(code: String): DataFrame => DataFrame =
    cache.getOrElseUpdate(code, synchronized {
      toolbox.eval(toolbox.parse(
        s"""(df: org.apache.spark.sql.DataFrame) => {
           |  import org.apache.spark.sql.functions._
           |  import org.apache.spark.sql.{Column, DataFrame}
           |  $code
           |}""".stripMargin)).asInstanceOf[DataFrame => DataFrame]
    })

  /** dx_map flavor: the snippet additionally sees `ctx` — the job-config
    * context map the reference passes as tContext. */
  def compileWithContext(code: String): (DataFrame, Map[String, String]) => DataFrame =
    ctxCache.getOrElseUpdate(code, synchronized {
      toolbox.eval(toolbox.parse(
        s"""(df: org.apache.spark.sql.DataFrame, ctx: Map[String, String]) => {
           |  import org.apache.spark.sql.functions._
           |  import org.apache.spark.sql.{Column, DataFrame}
           |  $code
           |}""".stripMargin)).asInstanceOf[(DataFrame, Map[String, String]) => DataFrame]
    })
}
