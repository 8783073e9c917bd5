package graft

import org.apache.spark.sql.{SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.functions.{MinHashSignature, ParseLogLine, SimHash, VectorDot, WordNgrams}

/** Session extension registering graft's native expressions as SQL
  * functions, so the engine's custom kernels are first-class in the SQL
  * dialect (not just the Column API):
  *
  * {{{
  * SELECT vec_dot(a.embedding, b.embedding) FROM ...
  * SELECT parse_log_line(value).operation FROM raw_lines
  * SELECT minhash_signature(word_ngrams(split(text, ' '), 3), 64, 42) ...
  * }}}
  *
  * The jar installs itself: it registers this class as a
  * `SparkSessionExtensionsProvider` (`META-INF/services`), which
  * `SparkSession.Builder` loads into every session it builds with the jar
  * on its classpath. `.withExtensions(new GraftExtensions)` and
  * `--conf spark.sql.extensions=graft.GraftExtensions` still work, and
  * install nothing twice: `apply` installs once per
  * `SparkSessionExtensions`.
  */
class GraftExtensions extends SparkSessionExtensionsProvider {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, "", name, usage, "", "", "", "", "", "", "built-in")

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case Literal(v: Long, LongType) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def longArg(e: Expression, what: String): Long = e match {
    case Literal(v: Int, IntegerType) => v.toLong
    case Literal(v: Long, LongType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be a long literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit =
    if (GraftExtensions.installed.add(ext)) install(ext)

  private def install(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("vec_dot"),
      info("vec_dot", "vec_dot(a, b) - dot product of two float/double arrays"),
      (args: Seq[Expression]) => VectorDot(args(0), args(1))))

    ext.injectFunction((FunctionIdentifier("parse_log_line"),
      info("parse_log_line",
        "parse_log_line(line) - S3 access-log line to an 18-field struct, NULL on miss"),
      (args: Seq[Expression]) => ParseLogLine(args(0))))

    ext.injectFunction((FunctionIdentifier("minhash_signature"),
      info("minhash_signature",
        "minhash_signature(shingles[, k[, seed]]) - MinHash signature array"),
      (args: Seq[Expression]) => MinHashSignature(args(0),
        if (args.length > 1) intArg(args(1), "k") else 64,
        if (args.length > 2) longArg(args(2), "seed") else 42L)))

    ext.injectFunction((FunctionIdentifier("simhash"),
      info("simhash", "simhash(tokens) - 64-bit SimHash of a token array"),
      (args: Seq[Expression]) => SimHash(args(0))))

    ext.injectFunction((FunctionIdentifier("word_ngrams"),
      info("word_ngrams", "word_ngrams(tokens, n) - distinct word n-gram shingles"),
      (args: Seq[Expression]) => WordNgrams(args(0), intArg(args(1), "n"))))

    ext.injectFunction((FunctionIdentifier("token_mode_count"),
      info("token_mode_count",
        "token_mode_count(tokens) - highest occurrence count of any one token"),
      (args: Seq[Expression]) => graft.functions.TokenModeCount(args(0))))

    // Fuse the Days-Apart date-in-path composite (3 regex/array/parse
    // intermediates per row) into the single-pass PathDate kernel.
    ext.injectOptimizerRule(_ => graft.functions.CollapsePathDate)

    // Evaluate repeated regex-class subexpressions in Filter predicates
    // once per row (FilterExec has no cross-predicate subexpression
    // elimination; a pushed-down filter over parsed log columns otherwise
    // re-runs the line parse per predicate reference). Physical: every
    // logical placement is undone by a later PushDownPredicates run — see
    // the rule's scaladoc. Post-planner rules run only under AQE, on the
    // whole plan; a plan with no exchange never enters AQE, so the rule
    // also runs as a pre-columnar-transition rule, the physical hook such
    // plans do pass through (on an already rewritten plan it is a no-op).
    ext.injectQueryPostPlannerStrategyRule(_ => graft.plans.DedupFilterSubexprs)
    ext.injectColumnar(_ => new org.apache.spark.sql.execution.ColumnarRule {
      override def preColumnarTransitions = graft.plans.DedupFilterSubexprs
    })

    // Size a small linear query's shuffles from its input bytes (the Days
    // Apart aggregate and sort over one compacted day) instead of the
    // session's partition count; see the rule's scaladoc.
    ext.injectQueryStagePrepRule(graft.plans.SizeShuffles(_))
  }
}

object GraftExtensions {
  /** The extension sets already installed on. Spark applies every source
    * of extensions (the service loader, `spark.sql.extensions`,
    * `withExtensions`) to one set per session, so one session can meet
    * this class more than once. Weak: a set lives as long as its session.
    */
  private val installed = java.util.Collections.newSetFromMap(
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSessionExtensions, java.lang.Boolean]))
}
