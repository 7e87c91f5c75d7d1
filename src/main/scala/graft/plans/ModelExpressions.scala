package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Nondeterministic, UnaryExpression,
  UnsafeArrayData, XXH64, XxHash64Function}
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

/** Single-pass native form of the DEFAULT stub face model
  * ([[graft.streaming.SauronPipeline.stubDetect]]). Its declarative
  * twin ([[graft.streaming.SauronPipeline.stubDetectColumns]]) calls
  * Catalyst's multi-argument `xxhash64(frame, i, c)`, which folds left
  * from seed 42, once per face count, box coordinate and encoding
  * element: 1 + n·(4 + dim) hashes of the whole frame through
  * interpreted HOF lambdas. Every one of those values is a small int
  * hash seeded by the same `xxhash64(frame)`, so this kernel hashes the
  * frame bytes once, each face's long index once on top of that, and
  * derives the 4 box values and the `dim` encoding values from the
  * face hash. Bit-identical to the Column form, its schema included
  * (pinned by StreamingSpec).
  */
case class StubFacesXx(child: Expression, dim: Int)
    extends UnaryExpression with CodegenFallback {
  // sequence(0, dim - 1) runs DESCENDING below dim = 1, which the
  // Column form would turn into phantom encoding elements
  require(dim >= 1, s"$prettyName: dim must be >= 1, got $dim")

  override def prettyName: String = "stub_faces_xx"
  // the Column form's type and nullability, flags included: `transform`
  // of a struct never holds a null face; `pmod`, the `cast` and the
  // division stay nullable
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("box", ArrayType(IntegerType, containsNull = true), nullable = false),
    StructField("enc", ArrayType(DoubleType, containsNull = true), nullable = false))),
    containsNull = false)
  override def nullable: Boolean = true

  // a null frame hashes as the bare seed (xxhash64 skips nulls), which
  // gives 0 faces: `[]`, never null — so no null propagation here
  override def eval(input: InternalRow): Any = {
    val faces = StubFacesXx.faces(child.eval(input).asInstanceOf[Array[Byte]], dim)
    new GenericArrayData(faces.map { case (box, enc) =>
      InternalRow(UnsafeArrayData.fromPrimitiveArray(box), UnsafeArrayData.fromPrimitiveArray(enc))
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object StubFacesXx {
  private val Seed = 42L

  private def pmod(a: Long, n: Long): Long = { val r = a % n; if (r < 0) r + n else r }

  /** Each face of one frame as (box, encoding): `pmod(xxhash64(frame), 3)`
    * faces; face i (a long from 1) hashes as `h_i = XXH64(i, xxhash64(frame))`,
    * its box coordinate c as `pmod(XXH64(c, h_i), 400)` and its encoding
    * element d as `XXH64(d, h_i) / Long.MaxValue`, c and d hashed as ints.
    * A null frame has no faces. */
  def faces(frame: Array[Byte], dim: Int): Array[(Array[Int], Array[Double])] = {
    val hFrame = if (frame == null) Seed else XxHash64Function.hash(frame, BinaryType, Seed)
    Array.tabulate(pmod(hFrame, 3L).toInt) { k =>
      val hFace = XXH64.hashLong(k + 1L, hFrame)
      (Array.tabulate(4)(c => pmod(XXH64.hashInt(c, hFace), 400L).toInt),
        Array.tabulate(dim)(d => XXH64.hashInt(d, hFace).toDouble / Long.MaxValue.toDouble))
    }
  }
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
