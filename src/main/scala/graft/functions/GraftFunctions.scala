package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.SqlShims.{column, expression}
import org.apache.spark.sql.types.{BinaryType, DoubleType, LongType, StringType, TimestampType}

/** Gap-fill scalar functions: the reference's `ScalarFunction` surface
  * (reference datafusion.proto:448-522) that Spark lacks a 1:1 built-in
  * for (SURVEY.md §2.8 gap list). All are compositions of codegen'd
  * Catalyst built-ins — no UDFs, so they stay inside WholeStageCodegen
  * and keep predicate pushdown intact. Scale note: every helper is a pure
  * per-row expression → embarrassingly parallel, no shuffle introduced.
  * `date_bin`, `trunc_num`, `digest` and `strpos` are each one Catalyst
  * tree builder: [[graft.GraftExtensions]] registers it as `graft_<name>`
  * and the Column function of the same name wraps it.
  */
object GraftFunctions {

  /** `date_bin(stride, ts, origin)` (reference datafusion.proto:516
    * DateBin): floor (ts - origin) to a multiple of `stride` seconds from
    * `origin`. Pure micros arithmetic → codegen'd. */
  def dateBin(stride: Expression, ts: Expression, origin: Expression): Expression = {
    // floor((unix_micros(ts) - o) / strideUs) * strideUs + o, in micros
    val strideUs = Multiply(Cast(stride, LongType), Literal(1000000L))
    val o = UnixMicros(Cast(origin, TimestampType))
    val t = UnixMicros(Cast(ts, TimestampType))
    val bins = Cast(Floor(Divide(
      Cast(Subtract(t, o), DoubleType), Cast(strideUs, DoubleType))), LongType)
    MicrosToTimestamp(Add(o, Multiply(bins, strideUs)))
  }
  def date_bin(strideSeconds: Long, ts: Column, origin: Column): Column =
    column(dateBin(Literal(strideSeconds), expression(ts), expression(origin)))

  /** Numeric `trunc(x, scale)` — truncate toward zero (reference
    * datafusion.proto:467 Trunc is numeric; Spark's 2-arg `trunc` is
    * date-oriented). Matches DuckDB/PostgreSQL trunc semantics. */
  def truncNum(x0: Expression, scale: Expression): Expression = {
    val x = Cast(x0, DoubleType)
    val p = Pow(Literal(10.0), Cast(scale, DoubleType))
    val scaled = Multiply(x, p)
    Cast(Divide(
      Cast(CaseWhen(
        Seq((GreaterThanOrEqual(x, Literal(0.0)), Floor(scaled))),
        Some(Ceil(scaled))), DoubleType),
      p), DoubleType)
  }
  def trunc_num(x: Column, scale: Int): Column = column(truncNum(expression(x), Literal(scale)))

  /** `digest(x, algo)` dispatch (reference datafusion.proto:455 Digest):
    * md5 / sha224 / sha256 / sha384 / sha512 by name. Algo is almost
    * always a literal, so the case chain constant-folds. An unknown
    * algorithm raises (like DataFusion's digest) instead of silently
    * yielding NULL for every row. */
  def digest(x0: Expression, algo0: Expression): Expression = {
    val x = Cast(x0, BinaryType)
    val algo = Lower(Cast(algo0, StringType))
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
  def digest(x: Column, algo: Column): Column = column(digest(expression(x), expression(algo)))

  /** `strpos(s, sub)` (reference datafusion.proto:500): 1-based position
    * of the first occurrence, 0 if absent. */
  def strpos(s: Expression, sub: Expression): Expression = StringLocate(sub, s, Literal(1))
  def strpos(s: Column, sub: Column): Column = column(strpos(expression(s), expression(sub)))

  /** `current_time` (reference datafusion.proto:519): Spark has no TIME
    * type; render HH:mm:ss like the reference's Arrow Time64 text form. */
  def current_time(): Column = date_format(now(), "HH:mm:ss")

  /** `regexp_match` array-of-match semantics (reference
    * datafusion.proto:469): whole-match as a 1-element array, null when no
    * match — the common boolean/scalar uses of DataFusion's regexp_match. */
  def regexp_match(s: Column, pattern: String): Column =
    when(s.rlike(pattern), array(regexp_extract(s, pattern, 0)))

  /** `to_timestamp_seconds/_millis/_micros` numeric forms (reference
    * datafusion.proto:503-506) — direct aliases of Spark builtins, named
    * here so the parity inventory has an addressable symbol. */
  def to_timestamp_seconds(c: Column): Column = timestamp_seconds(c)
  def to_timestamp_millis(c: Column): Column = timestamp_millis(c)
  def to_timestamp_micros(c: Column): Column = timestamp_micros(c)
}
