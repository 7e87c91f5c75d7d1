package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Nondeterministic, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{DateTimeUtils, GenericArrayData}
import org.apache.spark.sql.types._

/** Single-pass native form of the PORTABLE stub face model
  * ([[graft.streaming.SauronPipeline.stubDetectPortable]]'s semantics):
  * all of a frame's md5-derived quantities — face count from the first
  * 4 hex chars of md5(frame), box coords from md5("F:b:i:c") mod 400,
  * encodings from the 52-bit prefix of md5("F:e:i:d") scaled by 2^-52 —
  * computed in one tight loop per row with a thread-local digest. The
  * declarative transform/sequence form evaluates the same ~1+n·(4+dim)
  * md5 calls through interpreted HOF lambda trees per frame, which
  * dominated the full-topology query's runtime at sf0.1. Bit-identical
  * to the Column form (pinned by MultimodalSpec) and to the SQL oracle.
  */
case class StubFacesMd5(child: Expression, dim: Int)
    extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "stub_faces_md5"
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("box", ArrayType(IntegerType, containsNull = false)),
    StructField("enc", ArrayType(DoubleType, containsNull = false)))))

  private val hexDigits = "0123456789abcdef".toCharArray

  private def hex(d: Array[Byte]): String = {
    val out = new Array[Char](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(2 * i) = hexDigits((d(i) >> 4) & 0xF)
      out(2 * i + 1) = hexDigits(d(i) & 0xF)
      i += 1
    }
    new String(out)
  }

  override def nullSafeEval(input: Any): Any = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val frame = input.asInstanceOf[Array[Byte]]
    val f = hex(md.digest(frame))
    def h52(s: String): Long =
      Md5Halves.h52a(md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    val nFaces = (java.lang.Long.parseLong(f.substring(0, 4), 16) % 3L).toInt
    val faces = new Array[Any](nFaces)
    var i = 1
    while (i <= nFaces) {
      val box = new Array[Int](4)
      var c = 0
      while (c < 4) { box(c) = (h52(s"$f:b:$i:$c") % 400L).toInt; c += 1 }
      val enc = new Array[Double](dim)
      var d = 0
      while (d < dim) { enc(d) = h52(s"$f:e:$i:$d") / 4503599627370496.0; d += 1 }
      faces(i - 1) = InternalRow(new GenericArrayData(box), new GenericArrayData(enc))
      i += 1
    }
    new GenericArrayData(faces)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Wall-clock timestamp taken per row AFTER its child is evaluated; the
  * child's value is discarded. The predict stage passes `annotations`,
  * so each frame is stamped once it has been matched — where
  * `current_timestamp()` is fixed once per query, i.e. once per
  * streaming micro-batch, before any row runs. Nondeterministic, so the
  * optimizer neither folds nor duplicates it. */
case class StampAfter(child: Expression)
    extends UnaryExpression with Nondeterministic with CodegenFallback {
  override def prettyName: String = "stamp_after"
  override def dataType: DataType = TimestampType
  override def nullable: Boolean = false

  override protected def initializeInternal(partitionIndex: Int): Unit = ()

  override protected def evalInternal(input: InternalRow): Any = {
    child.eval(input)
    DateTimeUtils.instantToMicros(java.time.Instant.now())
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ModelExpressions {
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "stub_faces_md5",
      exprs => StubFacesMd5(exprs(0),
        exprs(1).eval().asInstanceOf[Number].intValue()),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "stamp_after", exprs => StampAfter(exprs(0)), "built-in")
  }
}
