package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sstable.CassType

/** X1: `cass_render(bytes, 'TypeName')` — render raw Cassandra bytes
  * as a display string via the marshal-type system, with the
  * reference's MarshalException-to-hex fallback
  * (`output/JsonOutputFormat.java:49-60,92-106`). Not on any hot path
  * (CodegenFallback is fine). */
case class CassRender(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("cass_render expects (BINARY, STRING)")

  @transient private lazy val cachedType: Option[CassType] =
    right match {
      case e if e.foldable =>
        Option(e.eval(null)).map(v => CassType.parse(v.toString))
      case _ => None
    }

  override protected def nullSafeEval(bytes: Any, typeName: Any): Any = {
    val t = cachedType.getOrElse(CassType.parse(typeName.toString))
    val b = bytes.asInstanceOf[Array[Byte]]
    val s = try t.getString(b) catch { case _: Exception => CassType.hex(b) }
    UTF8String.fromString(s)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** O1: `cass_sort_key(name, 'TypeName')` — the comparator-derived
  * binary sort key ([[CassType.sortKey]]) that lets the typed
  * compaction shuffle sort column names with Spark's native BinaryType
  * ordering (reference `AegisthusKeySortingComparator.java:35-61`).
  * Sits on every atom of every non-Bytes compaction, so it is fully
  * codegen'd: the type name is a literal, the [[CassType]] resolves
  * once at plan time and rides the codegen references array — one
  * virtual call per row, no UDF serialization barrier. */
case class CassSortKey(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cass_sort_key"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != BinaryType || right.dataType != StringType)
      TypeCheckResult.TypeCheckFailure("cass_sort_key expects (BINARY, STRING)")
    else if (!right.foldable)
      TypeCheckResult.TypeCheckFailure("cass_sort_key type name must be a literal")
    else TypeCheckResult.TypeCheckSuccess

  @transient private lazy val cachedType: CassType =
    CassType.parse(right.eval(null).toString)

  override protected def nullSafeEval(bytes: Any, typeName: Any): Any =
    cachedType.sortKey(bytes.asInstanceOf[Array[Byte]])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ctRef = ctx.addReferenceObj("cassType", cachedType, classOf[CassType].getName)
    nullSafeCodeGen(ctx, ev, (bytes, _) =>
      s"${ev.value} = $ctRef.sortKey($bytes);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** X4: `composite_split(bytes)` — split CompositeType-encoded bytes
  * into an array of component byte arrays
  * (`CQLMapper.java:97-100` / CompositeType.split). */
case class CompositeSplit(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(BinaryType)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("composite_split expects BINARY")

  override protected def nullSafeEval(bytes: Any): Any = {
    val comps = CassType.CompositeType.split(bytes.asInstanceOf[Array[Byte]])
    new GenericArrayData(comps.asInstanceOf[Array[Any]])
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** X8: hex casters with byte-width sniffing, the Spark face of the
  * Pig `AegisthusLoadCaster` (`pig/AegisthusLoadCaster.java:42-138`):
  * 1/2/4/8-byte big-endian payloads widen to the requested numeric. */
case class HexToNumber(child: Expression, target: String)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = target match {
    case "long" => LongType
    case "double" => DoubleType
    case "string" => StringType
    case other => throw new IllegalArgumentException(other)
  }
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("hex_to_* expects a hex STRING")

  override protected def nullSafeEval(hexStr: Any): Any = {
    val s = hexStr.toString
    val bytes = new Array[Byte](s.length / 2)
    var i = 0
    while (i < bytes.length) {
      bytes(i) = Integer.parseInt(s.substring(i * 2, i * 2 + 2), 16).toByte
      i += 1
    }
    val bb = java.nio.ByteBuffer.wrap(bytes)
    target match {
      case "long" => bytes.length match {
        case 1 => bb.get().toLong
        case 2 => bb.getShort.toLong
        case 4 => bb.getInt.toLong
        case 8 => bb.getLong
        case n => throw new IllegalArgumentException(s"cannot widen $n bytes to long")
      }
      case "double" => bytes.length match {
        case 4 => bb.getFloat.toDouble
        case 8 => bb.getDouble
        case n => throw new IllegalArgumentException(s"cannot widen $n bytes to double")
      }
      case "string" => UTF8String.fromBytes(bytes)
    }
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object CassFunctions {
  /** name -> builder for every engine expression — the single source of
    * truth shared by per-session [[registerAll]] and the session-build
    * injection path ([[graft.GraftExtensions]]). */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_polyhash" -> (es => PolyHash(es.head, es(1))),
    "cass_render" -> (es => CassRender(es.head, es(1))),
    "cass_sort_key" -> (es => CassSortKey(es.head, es(1))),
    "composite_split" -> (es => CompositeSplit(es.head)),
    "hex_to_long" -> (es => HexToNumber(es.head, "long")),
    "hex_to_double" -> (es => HexToNumber(es.head, "double")),
    "hex_to_string" -> (es => HexToNumber(es.head, "string")),
    "graft_simhash60" -> (es => SimHash60(es.head)),
    "graft_minhash" -> (es => MinHashSig(es.head, es(1))),
    "graft_lsh_bucket" -> (es => LshBucket(es.head, es(1))),
    "graft_dot" -> (es => DotProduct(es.head, es(1))),
    "graft_dot_long" -> (es => DotProductLong(es.head, es(1))),
    "graft_rp_sketch" -> (es => RpSketch(es.head, es(1))),
    "graft_shingle_hashes" -> (es => ShingleHashes(es.head, es(1))),
    "graft_shingle_hashes_all" -> (es => ShingleHashesAll(es.head, es(1))),
    "graft_token_hashes" -> (es => TokenHashes(es.head)),
    "graft_nfc" -> (es => NfcNormalize(es.head)),
    "graft_centroid_ranks" -> (es => CentroidRanks(es.head, es(1), es(2))),
    "graft_pq" -> (es => PqEncode(es.head, es(1), es(2))),
    "graft_scrub_keep" -> (es => ScrubKeep(es.head, es(1), es(2))),
    "graft_bpe_apply" -> (es => BpeApply(es.head, es(1))),
    // bare AggregateFunction: the analyzer wraps it in an
    // AggregateExpression at resolution, same as the built-in registry
    "graft_collect_capped" -> (es => new CollectCapped(es.head, es(1))),
    "graft_collect_set_capped" -> (es => new CollectSetCapped(es.head, es(1))))

  /** Idempotently register all engine expressions on the session. */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      reg.createOrReplaceTempFunction(name, b, "built-in")
    }
  }
}
