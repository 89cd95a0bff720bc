package graft

import graft.functions.{NfcNormalize, RollingHash}
import graft.plans.{GroupsFrameParser, GroupsFrames, GroupsMarker}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}
import org.apache.spark.sql.types.{BinaryType, DoubleType, LongType, StringType}

/** SparkSessionExtensions hook: registers the gap-fill functions under
  * SQL-callable names so `spark.sql` text reaches them — the analog of
  * the reference exposing its full ScalarFunction enumeration through
  * the SQL front-end (reference datafusion.proto:448-522).
  *
  * Wire up with `.withExtensions(new GraftExtensions)` (Engine.session
  * does) or `spark.sql.extensions=graft.GraftExtensions`. Builders
  * hand-compose Catalyst expression trees (a lazily-converted Column
  * node would reach codegen unresolved) — all codegen'd, no UDFs.
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

    register("graft_rolling_hash",
      "graft_rolling_hash(str) - rolling polynomial hash (h*31+byte mod 1e9+7)") {
      exprs => RollingHash(exprs.head)
    }

    register("graft_date_bin",
      "graft_date_bin(strideSeconds, ts, origin) - floor ts to stride multiples from origin") {
      exprs =>
        // floor((unix_micros(ts) - o) / strideUs) * strideUs + o, in micros
        val strideUs = Multiply(Cast(exprs.head, LongType), Literal(1000000L))
        val o = UnixMicros(Cast(exprs(2), org.apache.spark.sql.types.TimestampType))
        val t = UnixMicros(Cast(exprs(1), org.apache.spark.sql.types.TimestampType))
        val bins = Cast(Floor(Divide(
          Cast(Subtract(t, o), DoubleType), Cast(strideUs, DoubleType))), LongType)
        MicrosToTimestamp(Add(o, Multiply(bins, strideUs)))
    }

    register("graft_trunc_num",
      "graft_trunc_num(x, scale) - numeric truncation toward zero") {
      exprs =>
        val x = Cast(exprs.head, DoubleType)
        val p = Pow(Literal(10.0), Cast(exprs(1), DoubleType))
        val scaled = Multiply(x, p)
        Cast(Divide(
          Cast(CaseWhen(
            Seq((GreaterThanOrEqual(x, Literal(0.0)), Floor(scaled))),
            Some(Ceil(scaled))), DoubleType),
          p), DoubleType)
    }

    register("graft_digest",
      "graft_digest(x, algo) - md5/sha224/sha256/sha384/sha512 dispatch") {
      exprs =>
        val x = Cast(exprs.head, BinaryType)
        val algo = Lower(Cast(exprs(1), StringType))
        def is(a: String) = EqualTo(algo, Literal(a))
        CaseWhen(
          Seq(
            (IsNull(algo), Literal(null, StringType)), // NULL algo → NULL, not an error
            (is("md5"), Md5(x)),
            (is("sha224"), Sha2(x, Literal(224))),
            (is("sha256"), Sha2(x, Literal(256))),
            (is("sha384"), Sha2(x, Literal(384))),
            (is("sha512"), Sha2(x, Literal(512)))),
          Some(Cast(RaiseError(Concat(Seq(
            Literal("unsupported digest algorithm: "), algo))), StringType)))
    }

    register("graft_strpos",
      "graft_strpos(s, sub) - 1-based position of sub in s, 0 if absent") {
      exprs => StringLocate(exprs(1), exprs.head, Literal(1))
    }

    register("graft_nfc_normalize",
      "graft_nfc_normalize(str) - Unicode NFC canonical composition") {
      exprs => NfcNormalize(exprs.head)
    }
  }
}
