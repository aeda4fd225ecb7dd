package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the engine's hot scalar functions.
  *
  * These stay inside whole-stage codegen (each `doGenCode` emits a single
  * static call on the companion helpers — Scala objects expose static
  * forwarders), unlike Scala UDFs which break the codegen pipeline with
  * catalyst→Scala conversions. SURVEY.md §2.10 lists exactly these as the
  * only scalar extensions the engine needs; everything else is stock
  * `org.apache.spark.sql.functions`.
  */
object GraftExpressions {

  /** Lenient 0x-hex → long, zero-on-error (reference U1 contract). */
  case class HexToLong(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(v: Any): Any =
      HexCodec.decodeHexLenientU(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HexCodec.decodeHexLenientU($c)")
    override protected def withNewChildInternal(c: Expression): HexToLong = copy(child = c)
    override def prettyName: String = "hex_to_long"
  }

  /** Lenient 0x-hex (≤256-bit) → decimal string (reference U2 contract). */
  case class HexToDecimalString(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(v: Any): Any =
      HexCodec.decodeValueHexU(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HexCodec.decodeValueHexU($c)")
    override protected def withNewChildInternal(c: Expression): HexToDecimalString = copy(child = c)
    override def prettyName: String = "hex_to_decimal_string"
  }

  /** long → minimal "0x"-hex (reference U3 contract). */
  case class LongToHex(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(v: Any): Any =
      HexCodec.encodeUint64U(v.asInstanceOf[Long])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HexCodec.encodeUint64U($c)")
    override protected def withNewChildInternal(c: Expression): LongToHex = copy(child = c)
    override def prettyName: String = "long_to_hex"
  }

  /** URL → canonical form (UrlCodec rules). */
  case class CanonicalizeUrl(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(v: Any): Any =
      UrlCodec.canonicalizeU(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.UrlCodec.canonicalizeU($c)")
    override protected def withNewChildInternal(c: Expression): CanonicalizeUrl = copy(child = c)
    override def prettyName: String = "canonicalize_url"
  }

  /** canonical URL → host. */
  case class UrlHost(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(v: Any): Any =
      UrlCodec.hostOfU(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.UrlCodec.hostOfU($c)")
    override protected def withNewChildInternal(c: Expression): UrlHost = copy(child = c)
    override def prettyName: String = "url_host"
  }

  /** Salted splitmix64 over a long column — [[GraftHash.mix64(a:Long,b:Long)*]]
    * as one codegen call. This is the engine's SQL-REPLAYABLE hash (the
    * mix64 CTE chain in SparkEntry replays it limb-exactly in DuckDB), which
    * is why the deterministic sampling operators key on it rather than
    * xxhash64: a sample defined by this hash can be verified by an external
    * engine row-for-row.
    */
  case class Mix64Salted(child: Expression, salt: Long) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(v: Any): Any =
      GraftHash.mix64(v.asInstanceOf[Long], salt)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.GraftHash.mix64($c, ${salt}L)")
    override protected def withNewChildInternal(c: Expression): Mix64Salted = copy(child = c)
    override def prettyName: String = "mix64_salted"
  }

  /** canonical URL → path. */
  case class UrlPath(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(v: Any): Any =
      UrlCodec.pathOfU(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.UrlCodec.pathOfU($c)")
    override protected def withNewChildInternal(c: Expression): UrlPath = copy(child = c)
    override def prettyName: String = "url_path"
  }

  /** Tracking-param strip + param sort over a canonical URL ([[UrlCodec.stripTracking]]
    * — the aggressive seen-set/dedup key; fetch with the conservative form).
    */
  case class StripTracking(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(v: Any): Any =
      UrlCodec.stripTrackingU(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.UrlCodec.stripTrackingU($c)")
    override protected def withNewChildInternal(c: Expression): StripTracking = copy(child = c)
    override def prettyName: String = "strip_tracking"
  }

  /** Unicode NFC normalization ([[TextNorm]] — canonical composition only;
    * see there for the NFC-vs-NFKC policy). Codegen'd static call with an
    * allocation-free fast path for already-normalized text.
    */
  case class NfcNormalize(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(v: Any): Any =
      TextNorm.nfcU(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.TextNorm.nfcU($c)")
    override protected def withNewChildInternal(c: Expression): NfcNormalize = copy(child = c)
    override def prettyName: String = "nfc_normalize"
  }

  /** A long constant that generated code reads from the references array
    * (`ctx.addReferenceObj`) instead of inlining it. Two plans that differ
    * only in its value generate the same source, so the second reuses the
    * first's compiled classes from the codegen cache, where a `lit` would
    * compile new ones. Not foldable, so the optimizer keeps the leaf instead
    * of turning it into a literal. `CrawlJob` binds its round number this
    * way: with `lit(round)` every steady round compiled 14 new classes.
    */
  case class BoundLong(value: Long) extends LeafExpression {
    override def dataType: DataType = LongType
    override def nullable: Boolean = false
    override def foldable: Boolean = false
    override def eval(input: InternalRow): Any = value
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("boundLong", java.lang.Long.valueOf(value), "java.lang.Long")
      ev.copy(code = code"final long ${ev.value} = $ref.longValue();", isNull = FalseLiteral)
    }
    override def prettyName: String = "bound_long"
  }

  // ---- Column-level API -------------------------------------------------

  private def expr(c: Column): Expression = Bridge.expression(c)
  private def col(e: Expression): Column = Bridge.column(e)

  def hex_to_long(c: Column): Column = col(HexToLong(expr(c)))
  def hex_to_decimal_string(c: Column): Column = col(HexToDecimalString(expr(c)))
  def long_to_hex(c: Column): Column = col(LongToHex(expr(c)))
  def canonicalize_url(c: Column): Column = col(CanonicalizeUrl(expr(c)))
  def url_host(c: Column): Column = col(UrlHost(expr(c)))
  def url_path(c: Column): Column = col(UrlPath(expr(c)))
  def mix64_salted(c: Column, salt: Long): Column = col(Mix64Salted(expr(c), salt))
  def nfc_normalize(c: Column): Column = col(NfcNormalize(expr(c)))
  def strip_tracking(c: Column): Column = col(StripTracking(expr(c)))
  def bound_long(value: Long): Column = col(BoundLong(value))

  /** Register all graft scalar functions for SQL use. */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("hex_to_long", es => HexToLong(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("hex_to_decimal_string", es => HexToDecimalString(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("long_to_hex", es => LongToHex(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("canonicalize_url", es => CanonicalizeUrl(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("url_host", es => UrlHost(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("url_path", es => UrlPath(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("nfc_normalize", es => NfcNormalize(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("strip_tracking", es => StripTracking(es.head), "scala_udf")
  }
}
