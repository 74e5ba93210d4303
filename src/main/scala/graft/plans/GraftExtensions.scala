package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** Session extension registering graft's native expressions with the
  * SQL function registry, so `spark.sql("SELECT graft_dotq(a, b)")`
  * works alongside the Column API. Install with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")` or
  * `SparkSession.builder.withExtensions(new GraftExtensions)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.descriptors.foreach(ext.injectFunction)
}

object GraftExtensions {
  private type Descriptor =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def descriptor(name: String, clazz: Class[_])(
      build: Seq[Expression] => Expression): Descriptor =
    (FunctionIdentifier(name), new ExpressionInfo(clazz.getName, name), build)

  private def unary(name: String, clazz: Class[_],
      make: Expression => Expression): Descriptor =
    descriptor(name, clazz) { children =>
      require(children.length == 1, s"$name takes exactly 1 argument")
      make(children.head)
    }

  private def binary(name: String, clazz: Class[_],
      make: (Expression, Expression) => Expression): Descriptor =
    descriptor(name, clazz) { children =>
      require(children.length == 2, s"$name takes exactly 2 arguments")
      make(children.head, children(1))
    }

  /** `name(text, k)` with `k` an int literal. */
  private def withIntK(name: String, clazz: Class[_],
      make: (Expression, Int) => Expression): Descriptor =
    descriptor(name, clazz) { children =>
      require(children.length == 2, s"$name takes (text, k)")
      make(children.head, intLit(children(1), "k"))
    }

  private def intLit(e: Expression, name: String): Int = e match {
    case Literal(v: Int, _) => v
    case _ => throw new IllegalArgumentException(s"$name must be an int literal")
  }

  val descriptors: Seq[Descriptor] = Seq(
    binary("graft_dotq", classOf[LongArrayDot], LongArrayDot(_, _)),
    binary("graft_dotd", classOf[DoubleArrayDot], DoubleArrayDot(_, _)),
    binary("graft_eq_count", classOf[LongArrayEqCount], LongArrayEqCount(_, _)),
    unary("graft_h60", classOf[Md5Prefix60], Md5Prefix60(_)),
    unary("graft_quantize", classOf[QuantizeVec], QuantizeVec(_)),
    descriptor("graft_cdc_chunks", classOf[CdcChunks]) { children =>
      require(children.length == 3, "graft_cdc_chunks takes (text, w, avgSize)")
      CdcChunks(children.head, intLit(children(1), "w"), intLit(children(2), "avgSize"))
    },
    withIntK("graft_shingle_h60", classOf[ShingleHashes], ShingleHashes(_, _)),
    unary("graft_image_header", classOf[ImageHeader], ImageHeader(_)),
    unary("graft_av_header", classOf[AvHeader], AvHeader(_)),
    unary("graft_nfc", classOf[NfcNormalize], NfcNormalize(_)),
    withIntK("graft_char_ngrams", classOf[CharNgramHashes], CharNgramHashes(_, _)),
    unary("graft_strip_html", classOf[HtmlStrip], HtmlStrip(_)),
    unary("graft_log2fp", classOf[Log2Fp], Log2Fp(_)))

  /** Register on an already-built session (the frozen Bench main). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    descriptors.foreach(d =>
      spark.sessionState.functionRegistry.registerFunction(d._1, d._2, d._3))
}
