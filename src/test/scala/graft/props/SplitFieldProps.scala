package graft.props

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, ElementAt, Expression, Literal, Size, StringSplit}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import graft.plans.{SplitCount, SplitField}

/** Randomized equivalence of the field kernels with the composition
  * they replace: `split_field(s, d, k)` against
  * `element_at(split(s, d, -1), k)` and `split_count(s, d)` against
  * `size(split(s, d, -1))`, byte for byte, on both the interpreted
  * (`eval`) and the generated-code path. Lines are drawn over
  * delimiters, spaces, ASCII and multi-byte characters, and invalid
  * UTF-8 (a lone 0xFF, truncated 3- and 4-byte sequences), which
  * `split` replaces with U+FFFD through its String round trip.
  *
  * Runs no Spark job: the kernels' projection is generated once, so
  * many cases stay cheap.
  */
object SplitFieldProps extends Properties("splitfield") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(200)

  private def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
  private val token: Gen[Array[Byte]] = Gen.oneOf(
    ",".getBytes("UTF-8"), "/".getBytes("UTF-8"), " ".getBytes("UTF-8"),
    "a".getBytes("UTF-8"), "é".getBytes("UTF-8"), "€".getBytes("UTF-8"),
    "😀".getBytes("UTF-8"),
    bytes(0xFF), bytes(0xE2, 0x82), bytes(0xF0, 0x9F, 0x98))
  private val MaxTokens = 20
  private val line: Gen[UTF8String] =
    Gen.choose(0, MaxTokens).flatMap(n => Gen.listOfN(n, token))
      .map(ts => UTF8String.fromBytes(ts.toArray.flatten))

  // a line of MaxTokens delimiters has MaxTokens + 1 fields; one more
  // index checks the past-the-end NULL
  private val Ks = 1 to MaxTokens + 2
  private val Delims = Seq(',', '/')
  private val s = BoundReference(0, StringType, nullable = true)

  private def splitOf(d: Char) = StringSplit(s, Literal(d.toString), Literal(-1))
  // try_element_at: NULL past the end, where ANSI element_at throws
  private val reference: Seq[Expression] = Delims.flatMap(d =>
    Size(splitOf(d), legacySizeOfNull = false) +:
      Ks.map(k => ElementAt(splitOf(d), Literal(k), failOnError = false)))
  private val kernels: Seq[Expression] = Delims.flatMap(d =>
    SplitCount(s, d) +: Ks.map(k => SplitField(s, d, k)))

  private lazy val kernelGen = GenerateUnsafeProjection.generate(kernels)

  private def generated(row: InternalRow): Seq[Any] = {
    val out = kernelGen(row)
    kernels.indices.map { i =>
      if (out.isNullAt(i)) null
      else if (kernels(i).dataType == StringType) out.getUTF8String(i).copy()
      else out.getInt(i)
    }
  }

  property("split_field/split_count equal element_at/size of split, eval and codegen") =
    Prop.forAll(Gen.listOfN(16, line)) { lines =>
      (lines :+ null).forall { l =>
        val row = InternalRow(l)
        val expected = reference.map(_.eval(row))
        val got = Seq(
          "eval" -> kernels.map(_.eval(row)),
          "codegen" -> generated(row))
        got.forall { case (path, vs) =>
          val ok = vs == expected
          if (!ok) println(s"[splitfield] $path differs on " +
            s"${Option(l).map(_.getBytes.map(b => f"${b & 0xff}%02x").mkString(" "))}:" +
            s" $vs vs $expected")
          ok
        }
      }
    }
}
