package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Custom Catalyst expressions for the scoring/blocking layer — the Spark-first
 * re-creation of what the reference hides inside AWS Entity Resolution's
 * ML matching (reference: lib/entity-resolution-service.ts:142-183).
 *
 * All are codegen-friendly: `doGenCode` emits a direct static call into
 * [[Sim]] / [[HtmlText]], so they inline into whole-stage codegen (no Scala
 * UDF wrapping/boxing, no RDDs).
 */
case class JaroWinklerExpr(left: Expression, right: Expression)
    extends BinaryExpression with org.apache.spark.sql.graft.GraftInputTypes {
  override def graftInputTypes: Seq[DataType] = Seq(StringType, StringType)
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "jaro_winkler"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Sim.jaroWinkler(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Sim.jaroWinkler($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class TokenJaccardExpr(left: Expression, right: Expression)
    extends BinaryExpression with org.apache.spark.sql.graft.GraftInputTypes {
  override def graftInputTypes: Seq[DataType] = Seq(StringType, StringType)
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "token_jaccard"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Sim.tokenJaccard(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Sim.tokenJaccard($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class TokenHashesExpr(child: Expression)
    extends UnaryExpression with org.apache.spark.sql.graft.GraftInputTypes {
  override def graftInputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "token_hashes"
  override protected def nullSafeEval(v: Any): Any =
    Sim.tokenHashArray(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sim.tokenHashArray($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Delta+varint-packed token-hash set (see [[Sim.packTokenHashes]]) — the
  * compact stage-table / shuffle form of `token_hashes`: ~2x fewer bytes at
  * bits=32 than the raw long array through every records scan and
  * funnel-join shuffle. */
case class PackTokensExpr(child: Expression, bits: Int)
    extends UnaryExpression with org.apache.spark.sql.graft.GraftInputTypes {
  override def graftInputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pack_tokens"
  override protected def nullSafeEval(v: Any): Any =
    Sim.packTokenHashes(v.asInstanceOf[UTF8String], bits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sim.packTokenHashes($c, $bits)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** O(1) element count of a packed token set (reads the count prefix only). */
case class PackedCountExpr(child: Expression)
    extends UnaryExpression with org.apache.spark.sql.graft.GraftInputTypes {
  override def graftInputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "packed_count"
  override protected def nullSafeEval(v: Any): Any =
    Sim.packedCount(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sim.packedCount($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Exact jaccard of two packed token sets — streaming varint merge, no
  * per-pair array materialization. */
case class PackedJaccardExpr(left: Expression, right: Expression)
    extends BinaryExpression with org.apache.spark.sql.graft.GraftInputTypes {
  override def graftInputTypes: Seq[DataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "packed_jaccard"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Sim.packedJaccard(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Sim.packedJaccard($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class MinHashSigExpr(child: Expression, shingle: Int, numHashes: Int)
    extends UnaryExpression with org.apache.spark.sql.graft.GraftInputTypes {
  override def graftInputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_sig"
  override protected def nullSafeEval(v: Any): Any =
    Sim.minHashSig(v.asInstanceOf[UTF8String], shingle, numHashes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sim.minHashSig($c, $shingle, $numHashes)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class SimHashExpr(child: Expression)
    extends UnaryExpression with org.apache.spark.sql.graft.GraftInputTypes {
  override def graftInputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash64"
  override protected def nullSafeEval(v: Any): Any =
    Sim.simHash(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sim.simHash($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class AsciiLowerExpr(child: Expression)
    extends UnaryExpression with org.apache.spark.sql.graft.GraftInputTypes {
  override def graftInputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "ascii_lower"
  override protected def nullSafeEval(v: Any): Any =
    Sim.asciiLower(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sim.asciiLower($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class HtmlToTextExpr(child: Expression)
    extends UnaryExpression with org.apache.spark.sql.graft.GraftInputTypes {
  override def graftInputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "html_to_text"
  override protected def nullSafeEval(v: Any): Any =
    HtmlText.extract(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HtmlText.extract($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Deterministic PNG synthesis from a 64-bit seed (real PNG container via
  * javax.imageio — the generator analog of a crawled image payload). */
case class PngEncodeExpr(child: Expression)
    extends UnaryExpression with org.apache.spark.sql.graft.GraftInputTypes {
  override def graftInputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "png_encode"
  override protected def nullSafeEval(v: Any): Any =
    ImageCodec.encodePng(v.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ImageCodec.encodePng($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** REAL image decode (javax.imageio, JDK built-in): full raster decode of
  * the payload bytes → (width, height, codec), NULL for undecodable bytes
  * (a corrupt payload at 100 TB must never kill a stage). */
case class ImageDecodeExpr(child: Expression)
    extends UnaryExpression with org.apache.spark.sql.graft.GraftInputTypes {
  override def graftInputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = StructType(Seq(
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("codec", StringType)))
  override def nullable: Boolean = true // undecodable bytes → NULL struct
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "image_decode"
  override protected def nullSafeEval(v: Any): Any =
    ImageCodec.decode(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val code = nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.ImageCodec.decode($c);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
    code
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Deterministic WAV synthesis from a 64-bit seed (real RIFF container via
  * javax.sound.sampled — the generator analog of a crawled audio payload). */
case class WavEncodeExpr(child: Expression)
    extends UnaryExpression with org.apache.spark.sql.graft.GraftInputTypes {
  override def graftInputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "wav_encode"
  override protected def nullSafeEval(v: Any): Any =
    AudioCodec.encodeWav(v.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.AudioCodec.encodeWav($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** REAL audio decode (javax.sound.sampled, JDK built-in): full PCM decode of
  * the payload bytes → (sample_rate, n_frames, channels, codec), NULL for
  * undecodable bytes (mirror of [[ImageDecodeExpr]]). */
case class AudioDecodeExpr(child: Expression)
    extends UnaryExpression with org.apache.spark.sql.graft.GraftInputTypes {
  override def graftInputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = StructType(Seq(
    StructField("sample_rate", IntegerType),
    StructField("n_frames", IntegerType),
    StructField("channels", IntegerType),
    StructField("codec", StringType)))
  override def nullable: Boolean = true // undecodable bytes → NULL struct
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "audio_decode"
  override protected def nullSafeEval(v: Any): Any =
    AudioCodec.decode(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.AudioCodec.decode($c);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Deterministic AVI synthesis from a 64-bit seed (real spec-layout RIFF
  * container — the generator analog of a crawled video payload). */
case class AviEncodeExpr(child: Expression)
    extends UnaryExpression with org.apache.spark.sql.graft.GraftInputTypes {
  override def graftInputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "avi_encode"
  override protected def nullSafeEval(v: Any): Any =
    VideoCodec.encodeAvi(v.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VideoCodec.encodeAvi($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** REAL AVI container parse (RIFF chunk walk, zero deps): header dimensions,
  * fps, the frame chunks actually present in `movi`, and the video stream's
  * codec fourcc → (width, height, fps, n_frames, codec); NULL for bytes
  * that are not a RIFF/AVI container (mirror of [[ImageDecodeExpr]]). Frame
  * PIXELS stay opaque — the JDK ships no video frame codec. */
case class VideoDecodeExpr(child: Expression)
    extends UnaryExpression with org.apache.spark.sql.graft.GraftInputTypes {
  override def graftInputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = StructType(Seq(
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("fps", DoubleType),
    StructField("n_frames", IntegerType),
    StructField("codec", StringType)))
  override def nullable: Boolean = true // non-AVI bytes → NULL struct
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "video_decode"
  override protected def nullSafeEval(v: Any): Any =
    VideoCodec.decode(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.VideoCodec.decode($c);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Two 64-bit halves → a 16-byte big-endian binary — the 128-bit record-id
  * constructor for [[graft.pipeline.EntityResolution]]'s `idBits = 128` mode
  * (collision-safe at 10¹² records where 64-bit hash ids reach ~3%). */
case class Bin128Expr(left: Expression, right: Expression)
    extends BinaryExpression with org.apache.spark.sql.graft.GraftInputTypes {
  override def graftInputTypes: Seq[DataType] = Seq(LongType, LongType)
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "bin128"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Sim.bin128(a.asInstanceOf[Long], b.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Sim.bin128($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Exact cosine similarity of two float/double vectors — replaces the
  * interpreted `zip_with`+`aggregate` higher-order-function composition in
  * the ANN/dedup hot paths with one fused whole-stage-codegen pass
  * ([[Sim.cosineSim]] — bit-identical accumulation order and null/length
  * semantics). Element types may differ per side (items are float, centroid
  * literals double); the accessor flags are baked in from the child types. */
case class CosineSimExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  private def elemDouble(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case ArrayType(FloatType, _) => false
    case t => throw new IllegalArgumentException(
      s"cosine_sim expects array<float>/array<double> inputs, got $t")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true // length mismatch / null element
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cosine_sim"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Sim.cosineSim(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], elemDouble(left),
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], elemDouble(right))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (ad, bd) = (elemDouble(left), elemDouble(right))
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("cos")
      s"""java.lang.Double $r = graft.functions.Sim.cosineSim($a, $ad, $b, $bd);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
         |""".stripMargin
    })
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** All `tables` sign-LSH bucket codes of a vector in one compiled pass: a
  * single [[Sim.signCodes]] call per row over cached ±1 hyperplane weights
  * (code semantics documented there). */
case class SignCodesExpr(child: Expression, bits: Int, tables: Int)
    extends UnaryExpression {
  private def elemDouble: Boolean = child.dataType match {
    case ArrayType(DoubleType, _) => true
    case ArrayType(FloatType, _) => false
    case t => throw new IllegalArgumentException(
      s"sign_codes expects an array<float>/array<double> input, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sign_codes"
  override protected def nullSafeEval(v: Any): Any =
    Sim.signCodes(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      elemDouble, bits, tables)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ed = elemDouble
    defineCodeGen(ctx, ev, c => s"graft.functions.Sim.signCodes($c, $ed, $bits, $tables)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Distinct space-split word n-grams of a string, sorted in byte order
  * ([[Sim.wordNgrams]]) — the compiled form of the `transform`/`slice`/
  * `array_join` composition, which is CodegenFallback in Spark 4. */
case class WordNgramsExpr(child: Expression, n: Int)
    extends UnaryExpression with org.apache.spark.sql.graft.GraftInputTypes {
  require(n >= 1, s"word_ngrams needs n >= 1, got $n")
  override def graftInputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "word_ngrams"
  override protected def nullSafeEval(v: Any): Any =
    Sim.wordNgrams(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sim.wordNgrams($c, $n)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Jaccard of two sorted distinct string sets in one merge walk
  * ([[Sim.sortedJaccard]]): the `size(array_intersect)/size(array_union)`
  * double, without building either array. */
case class SortedJaccardExpr(left: Expression, right: Expression)
    extends BinaryExpression with org.apache.spark.sql.graft.GraftInputTypes {
  override def graftInputTypes: Seq[DataType] =
    Seq(ArrayType(StringType), ArrayType(StringType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sorted_jaccard"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Sim.sortedJaccard(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Sim.sortedJaccard($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Distinct md5 fingerprints of every `w`-token space-split window of a
  * string ([[Sim.windowMd5s]]) — the compiled form of the per-window
  * `md5(array_join(slice(..)))` composition. */
case class WindowMd5sExpr(child: Expression, w: Int)
    extends UnaryExpression with org.apache.spark.sql.graft.GraftInputTypes {
  require(w >= 1, s"window_md5s needs w >= 1, got $w")
  override def graftInputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "window_md5s"
  override protected def nullSafeEval(v: Any): Any =
    Sim.windowMd5s(v.asInstanceOf[UTF8String], w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sim.windowMd5s($c, $w)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Column-API entry points (`import graft.functions.GraftFunctions._`). */
object GraftFunctions {
  private def col(e: Expression): Column = Shim.column(e)
  private def expr(c: Column): Expression = Shim.expression(c)

  def jaro_winkler(a: Column, b: Column): Column = col(JaroWinklerExpr(expr(a), expr(b)))
  def token_jaccard(a: Column, b: Column): Column = col(TokenJaccardExpr(expr(a), expr(b)))
  def token_hashes(c: Column): Column = col(TokenHashesExpr(expr(c)))
  def pack_tokens(c: Column, bits: Int): Column = col(PackTokensExpr(expr(c), bits))
  def packed_count(c: Column): Column = col(PackedCountExpr(expr(c)))
  def packed_jaccard(a: Column, b: Column): Column =
    col(PackedJaccardExpr(expr(a), expr(b)))
  def minhash_sig(c: Column, shingle: Int, numHashes: Int): Column =
    col(MinHashSigExpr(expr(c), shingle, numHashes))
  def simhash64(c: Column): Column = col(SimHashExpr(expr(c)))
  def html_to_text(c: Column): Column = col(HtmlToTextExpr(expr(c)))
  def ascii_lower(c: Column): Column = col(AsciiLowerExpr(expr(c)))
  def png_encode(seed: Column): Column = col(PngEncodeExpr(expr(seed)))
  def image_decode(payload: Column): Column = col(ImageDecodeExpr(expr(payload)))
  def wav_encode(seed: Column): Column = col(WavEncodeExpr(expr(seed)))
  def audio_decode(payload: Column): Column = col(AudioDecodeExpr(expr(payload)))
  def avi_encode(seed: Column): Column = col(AviEncodeExpr(expr(seed)))
  def bin128(hi: Column, lo: Column): Column = col(Bin128Expr(expr(hi), expr(lo)))
  def video_decode(payload: Column): Column = col(VideoDecodeExpr(expr(payload)))
  def cosine_sim(a: Column, b: Column): Column = col(CosineSimExpr(expr(a), expr(b)))
  def sign_codes(v: Column, bits: Int, tables: Int): Column =
    col(SignCodesExpr(expr(v), bits, tables))
  def word_ngrams(text: Column, n: Int): Column = col(WordNgramsExpr(expr(text), n))
  def sorted_jaccard(a: Column, b: Column): Column = col(SortedJaccardExpr(expr(a), expr(b)))
  def window_md5s(text: Column, w: Int): Column = col(WindowMd5sExpr(expr(text), w))

  /** Register all as SQL temp functions so `spark.sql` text can use them. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("jaro_winkler", es => JaroWinklerExpr(es.head, es(1)), "built-in")
    reg.createOrReplaceTempFunction("token_jaccard", es => TokenJaccardExpr(es.head, es(1)), "built-in")
    reg.createOrReplaceTempFunction("simhash64", es => SimHashExpr(es.head), "built-in")
    reg.createOrReplaceTempFunction("html_to_text", es => HtmlToTextExpr(es.head), "built-in")
    reg.createOrReplaceTempFunction("ascii_lower", es => AsciiLowerExpr(es.head), "built-in")
    reg.createOrReplaceTempFunction("token_hashes", es => TokenHashesExpr(es.head), "built-in")
    reg.createOrReplaceTempFunction("video_decode", es => VideoDecodeExpr(es.head), "built-in")
  }
}
