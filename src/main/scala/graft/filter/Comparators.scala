package graft.filter

import java.util.Locale

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shim
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Compare operators of the reference's CompareFilter
  * (hbase-client/.../filter/CompareFilter.java:54). */
sealed abstract class CompareOp(val symbol: String)
object CompareOp {
  case object Less           extends CompareOp("<")
  case object LessOrEqual    extends CompareOp("<=")
  case object Equal          extends CompareOp("=")
  case object NotEqual       extends CompareOp("!=")
  case object GreaterOrEqual extends CompareOp(">=")
  case object Greater        extends CompareOp(">")

  val all: Seq[CompareOp] =
    Seq(LessOrEqual, GreaterOrEqual, NotEqual, Less, Equal, Greater)

  def fromSymbol(s: String): CompareOp =
    all.find(_.symbol == s).getOrElse(
      throw new IllegalArgumentException(s"unknown compare op '$s'"))
}

/** Comparator hierarchy (SURVEY §2.3) — each compiles a (subject, op)
  * pair to a codegen-friendly Column predicate.
  *
  * Reference: BinaryComparator.java:38, BinaryPrefixComparator.java:37,
  * BinaryComponentComparator.java:35, BitComparator.java:35,
  * LongComparator.java:36, BigDecimalComparator.java:38,
  * NullComparator.java:34, RegexStringComparator.java:73,
  * SubstringComparator.java:46.
  */
sealed trait GComparator {
  def test(subject: Column, op: CompareOp): Column
}

/** Helper: standard ordered comparison against a literal Column. */
private[filter] object Cmp {
  /** ANSI-safe numeric interpretation: unparseable OR overflowing
    * values become null (→ predicate null → no match), the reference's
    * behavior for bytes that don't decode — never a runtime error. */
  def tryLong(c: Column): Column = c.try_cast("long")
  def tryDecimal(c: Column): Column = c.try_cast("decimal(38,18)")
  def ordered(subject: Column, op: CompareOp, v: Column): Column = op match {
    case CompareOp.Less           => subject < v
    case CompareOp.LessOrEqual    => subject <= v
    case CompareOp.Equal          => subject === v
    case CompareOp.NotEqual       => subject =!= v
    case CompareOp.GreaterOrEqual => subject >= v
    case CompareOp.Greater        => subject > v
  }
}

/** Byte/string-lexicographic compare (keys are ASCII by convention). */
final case class BinaryComparator(value: String) extends GComparator {
  def test(subject: Column, op: CompareOp): Column =
    Cmp.ordered(subject, op, lit(value))
}

/** Compare only up to the prefix length. */
final case class BinaryPrefixComparator(prefix: String) extends GComparator {
  def test(subject: Column, op: CompareOp): Column =
    Cmp.ordered(substring(subject, 1, prefix.length), op, lit(prefix))
}

/** Compare a fixed-offset slice of the subject (0-based offset). */
final case class BinaryComponentComparator(value: String, offset: Int)
    extends GComparator {
  def test(subject: Column, op: CompareOp): Column =
    Cmp.ordered(substring(subject, offset + 1, value.length), op, lit(value))
}

/** Bitwise test on the 8-byte-long interpretation of the value.
  * EQUAL ⇔ (subject bitop mask) != 0 (reference semantics:
  * BitComparator.java compareTo returns 0 on match). */
final case class BitComparator(mask: Long, bitOp: BitComparator.BitwiseOp)
    extends GComparator {
  def test(subject: Column, op: CompareOp): Column = {
    val l = Cmp.tryLong(subject)
    val combined = bitOp match {
      case BitComparator.And => l.bitwiseAND(lit(mask))
      case BitComparator.Or  => l.bitwiseOR(lit(mask))
      case BitComparator.Xor => l.bitwiseXOR(lit(mask))
    }
    op match {
      case CompareOp.Equal    => combined =!= 0L
      case CompareOp.NotEqual => combined === 0L
      case other =>
        throw new IllegalArgumentException(s"BitComparator supports =/!= only, got $other")
    }
  }
}
object BitComparator {
  sealed trait BitwiseOp
  case object And extends BitwiseOp
  case object Or  extends BitwiseOp
  case object Xor extends BitwiseOp
}

/** Numeric compare of the long interpretation of the value. */
final case class LongComparator(value: Long) extends GComparator {
  def test(subject: Column, op: CompareOp): Column =
    Cmp.ordered(Cmp.tryLong(subject), op, lit(value))
}

/** Numeric compare via DecimalType (exact, order-stable). */
final case class BigDecimalComparator(value: BigDecimal) extends GComparator {
  def test(subject: Column, op: CompareOp): Column =
    Cmp.ordered(Cmp.tryDecimal(subject),
                op, lit(value.bigDecimal).cast("decimal(38,18)"))
}

/** Is-empty test: EQUAL passes null/empty values. */
final case class NullComparator() extends GComparator {
  def test(subject: Column, op: CompareOp): Column = {
    val empty = subject.isNull || length(subject) === 0
    op match {
      case CompareOp.Equal    => empty
      case CompareOp.NotEqual => !empty
      case other =>
        throw new IllegalArgumentException(s"NullComparator supports =/!= only, got $other")
    }
  }
}

/** Regex match (Java regex, ≅ reference's Java/Joni engines). */
final case class RegexStringComparator(pattern: String) extends GComparator {
  def test(subject: Column, op: CompareOp): Column = op match {
    case CompareOp.Equal    => subject.rlike(pattern)
    case CompareOp.NotEqual => !subject.rlike(pattern)
    case other =>
      throw new IllegalArgumentException(s"RegexStringComparator supports =/!= only, got $other")
  }
}

/** Case-insensitive contains, as the reference computes it: the
  * value and the substring lower-cased in the root locale
  * (SubstringComparator.java:46,63), whatever the JVM's default locale
  * is (e.g. no Turkish dotless-ı for "I"). */
final case class SubstringComparator(substr: String) extends GComparator {
  def test(subject: Column, op: CompareOp): Column = {
    val c = shim.column(LowerContains(shim.expression(subject), substr.toLowerCase(Locale.ROOT)))
    op match {
      case CompareOp.Equal    => c
      case CompareOp.NotEqual => !c
      case other =>
        throw new IllegalArgumentException(s"SubstringComparator supports =/!= only, got $other")
    }
  }
}

/** Whether `child`, lower-cased in the root locale, contains `needle`
  * (already lower-cased); null for a null `child`. An ASCII value is
  * lowered byte by byte, any other through `String.toLowerCase`. */
private[filter] case class LowerContains(child: Expression, needle: String)
    extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"substring comparison of a ${child.dataType.simpleString}")
  @transient private lazy val lowered = UTF8String.fromString(needle)

  override protected def nullSafeEval(v: Any): Any =
    LowerContains.test(v.asInstanceOf[UTF8String], lowered)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val n = ctx.addReferenceObj("needle", lowered)
    defineCodeGen(ctx, ev, c => s"graft.filter.LowerContains.test($c, $n)")
  }

  override protected def withNewChildInternal(newChild: Expression): LowerContains =
    copy(child = newChild)
}

private[filter] object LowerContains {
  def test(s: UTF8String, needle: UTF8String): Boolean =
    (if (s.isFullAscii) s.toLowerCaseAscii else UTF8String.fromString(s.toString.toLowerCase(Locale.ROOT)))
      .contains(needle)
}
