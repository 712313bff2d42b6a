package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

import graft.functions.{AudioHeader, CosineSim, DotProduct, ImageHeader, RollingHash, VideoHeader, WordShingles}

/** Session-extension entry point: makes graft's native expressions
  * callable from SQL. Two ways in:
  *
  *  - config: `spark.sql.extensions=graft.GraftExtensions` at session
  *    build time (the standard extension mechanism), or
  *  - [[GraftExtensions.register]] on a live session (what the specs
  *    and the driver-owned sessions use).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.descriptors.foreach { case (name, info, builder) =>
      e.injectFunction((FunctionIdentifier(name), info, builder))
    }
    graft.functions.TableFunctions.descriptors.foreach { case (name, info, builder) =>
      e.injectTableFunction((FunctionIdentifier(name), info, builder))
    }
    e.injectOptimizerRule(_ => graft.plans.WindowTopKRule)
    // static half: sort inputs sized from files at planning; runtime
    // half: AQE re-optimizes with a finished stage's measured size
    e.injectOptimizerRule(_ => graft.plans.SmallSortRule)
    e.injectRuntimeOptimizerRule(_ => graft.plans.SmallSortRule)
    e.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    // the V2-catalog bridge: graft.* reads lower onto the V1 mount,
    // DELETE/UPDATE/MERGE lower onto the transactional verbs
    e.injectPostHocResolutionRule(session => graft.tables.GraftAnalysis(session))
    // persistent views: must run BEFORE the Resolution batch, where
    // ResolveSessionCatalog refuses views for every non-session
    // catalog — the Hints batch is the injection point that precedes it
    e.injectHintResolutionRule(session => graft.tables.GraftViewRules(session))
  }
}

object GraftExtensions {
  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "")

  val descriptors: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("rolling_hash",
      info("rolling_hash", "rolling_hash(str) - 64-bit polynomial rolling hash of str's UTF-8 bytes"),
      (es: Seq[Expression]) => RollingHash(es.head)),
    ("vec_dot",
      info("vec_dot", "vec_dot(a, b) - dot product of two numeric arrays in double"),
      (es: Seq[Expression]) => DotProduct(es.head, es(1))),
    ("vec_cosine",
      info("vec_cosine", "vec_cosine(a, b) - cosine similarity of two numeric arrays in double"),
      (es: Seq[Expression]) => CosineSim(es.head, es(1))),
    ("image_header",
      info("image_header",
        "image_header(bin) - struct(format, width, height) parsed from real PNG/JPEG/GIF header bytes; null if unrecognized"),
      (es: Seq[Expression]) => ImageHeader(es.head)),
    ("audio_header",
      info("audio_header",
        "audio_header(bin) - struct(format, sample_rate, channels, bits) parsed from real WAV/FLAC header bytes; null if unrecognized"),
      (es: Seq[Expression]) => AudioHeader(es.head)),
    ("video_header",
      info("video_header",
        "video_header(bin) - struct(format, width, height, duration_ms) parsed from real MP4/AVI container bytes; null if unrecognized"),
      (es: Seq[Expression]) => VideoHeader(es.head)),
    ("word_shingles",
      info("word_shingles",
        "word_shingles(str, k) - distinct word k-gram shingles of str as array<string>; k must be a literal"),
      (es: Seq[Expression]) => WordShingles(es.head, es(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"word_shingles: k must be an integer literal, got $other")
      })),
  )

  /** Register functions + the TopK and small-sort rewrites on an
    * already-built session (the config-time path is
    * `spark.sql.extensions=graft.GraftExtensions`). A live session takes
    * no AQE runtime rule, so only [[graft.plans.SmallSortRule]]'s static
    * half is added here: a sort over an aggregate, or over anything
    * sized only once a stage has run, keeps its range exchange on such
    * a session. */
  def register(spark: SparkSession): Unit = {
    descriptors.foreach { case (name, i, builder) =>
      org.apache.spark.sql.graftbridge.ExprBridge.registerFunction(spark, name, i, builder)
    }
    graft.functions.TableFunctions.descriptors.foreach { case (name, i, builder) =>
      spark.sessionState.tableFunctionRegistry.registerFunction(
        FunctionIdentifier(name), i, builder)
    }
    if (!spark.experimental.extraOptimizations.contains(graft.plans.WindowTopKRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.WindowTopKRule
    if (!spark.experimental.extraOptimizations.contains(graft.plans.SmallSortRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.SmallSortRule
    if (!spark.experimental.extraStrategies.contains(graft.plans.TopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.TopKStrategy
  }
}
