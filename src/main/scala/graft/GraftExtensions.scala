package graft

import graft.functions.{GraftFunctions, NfcNormalize, RollingHash}
import graft.plans.{GroupsFrameParser, GroupsFrames, GroupsMarker}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}

/** SparkSessionExtensions hook: registers the gap-fill functions under
  * SQL-callable names so `spark.sql` text reaches them — the analog of
  * the reference exposing its full ScalarFunction enumeration through
  * the SQL front-end (reference datafusion.proto:448-522).
  *
  * Wire up with `.withExtensions(new GraftExtensions)` (Engine.session
  * does) or `spark.sql.extensions=graft.GraftExtensions`. Builders
  * hand-compose Catalyst expression trees (graft.functions.GraftFunctions
  * holds the gap-fill ones, which its Column functions wrap) — all
  * codegen'd, no UDFs.
  *
  * It also runs SQL:2011 GROUPS window frames (graft.plans.GroupsFrames:
  * a frame-keyword edit in the parser, one post-hoc resolution rule and
  * one check rule), and keeps filter constants out of generated code
  * (graft.plans.ParamLiterals), so statements that differ only in their
  * literals share one compiled class: a template compiles once per JVM,
  * not once per statement.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // Runs just before CollapseCodegenStages, both in the non-adaptive
    // preparations (a plan with no exchange is never AQE-wrapped) and in
    // AQE's per-stage rules.
    ext.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] = graft.plans.ParamLiterals
    })

    def register(name: String, usage: String)(builder: Seq[Expression] => Expression): Unit =
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name, usage),
        builder))

    // SQL:2011 GROUPS window frames (graft.plans.GroupsFrames; the
    // reference enum carries GROUPS, datafusion.proto:651-676). Spark's
    // parser lacks the frame mode, so the delegating parser turns each
    // GROUPS frame into a ROWS frame whose ORDER BY ends in the
    // __graft_groups() marker — one regex probe per statement without
    // one. A post-hoc resolution rule rewrites every marked Window to
    // dense_rank + RANGE frames; the check rule fails on a marker it
    // could not place (a GROUPS frame without ORDER BY).
    ext.injectParser((_, delegate) => new GroupsFrameParser(delegate))
    ext.injectPostHocResolutionRule(_ => GroupsFrames)
    ext.injectCheckRule(_ => GroupsFrames.checkNoMarker)
    register(GroupsFrames.MarkerName, "__graft_groups() - GROUPS-frame marker (parser-internal)") {
      _ => GroupsMarker()
    }

    register("graft_rolling_hash", "graft_rolling_hash(str) - rolling polynomial hash (h*31+byte mod 1e9+7)")(
      e => RollingHash(e.head))
    register("graft_date_bin", "graft_date_bin(strideSeconds, ts, origin) - floor ts to stride multiples from origin")(
      e => GraftFunctions.dateBin(e.head, e(1), e(2)))
    register("graft_trunc_num", "graft_trunc_num(x, scale) - numeric truncation toward zero")(
      e => GraftFunctions.truncNum(e.head, e(1)))
    register("graft_digest", "graft_digest(x, algo) - md5/sha224/sha256/sha384/sha512 dispatch")(
      e => GraftFunctions.digest(e.head, e(1)))
    register("graft_strpos", "graft_strpos(s, sub) - 1-based position of sub in s, 0 if absent")(
      e => GraftFunctions.strpos(e.head, e(1)))
    register("graft_nfc_normalize", "graft_nfc_normalize(str) - Unicode NFC canonical composition")(
      e => NfcNormalize(e.head))
  }
}
