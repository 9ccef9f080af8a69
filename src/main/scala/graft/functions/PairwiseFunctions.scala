package graft.functions

import graft.kernel.PairwiseAlign
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** align_pairwise_* scalar functions (reference:
  * src/align_pairwise_functions.cpp:1-303): gap-affine alignment with
  * defaults (mismatch=4, gap_open=6, gap_extend=2), method must be
  * 'wfa2', penalties are CONSTANTS (the reference enforces bind-time
  * foldability — here they are plain Scala parameters, which is the
  * same constraint expressed in the host language), NULL in → NULL out.
  *
  * One Catalyst expression ([[AlignPairwise]]) backs both the Column
  * API below and the SQL names in GraftFunctionBuilders. The reference's
  * per-thread aligner reuse maps to one Aligner per expression, whose
  * DP buffers are thread-local.
  */
object PairwiseFunctions {

  private val CigarType = StructType(Seq(
    StructField("score", IntegerType, nullable = false),
    StructField("cigar", StringType)))
  private val FullType = StructType(Seq(
    StructField("score", IntegerType, nullable = false),
    StructField("cigar", StringType),
    StructField("query_aligned", StringType),
    StructField("subject_aligned", StringType)))

  /** align_pairwise_<output>(query, subject), output ∈ score | cigar |
    * full: INT score, STRUCT(score, cigar), or STRUCT(score, cigar,
    * query_aligned, subject_aligned).
    */
  case class AlignPairwise(left: Expression, right: Expression, output: String,
      mismatch: Int = 4, gapOpen: Int = 6, gapExtend: Int = 2)
      extends BinaryExpression with ImplicitCastInputTypes with CodegenFallback {
    // built here so invalid penalties fail when the column is built
    private val aligner = new PairwiseAlign.Aligner(mismatch, gapOpen, gapExtend)

    override def inputTypes = Seq(StringType, StringType)
    override def dataType: DataType = output match {
      case "score" => IntegerType
      case "cigar" => CigarType
      case "full"  => FullType
    }
    override def prettyName: String = s"align_pairwise_$output"

    override protected def nullSafeEval(q: Any, s: Any): Any = {
      val (query, subject) = (q.toString, s.toString)
      output match {
        case "score" => aligner.alignScore(query, subject)
        case "cigar" =>
          val (score, cigar) = aligner.alignCigar(query, subject)
          InternalRow(score, UTF8String.fromString(cigar))
        case "full" =>
          val r = aligner.alignFull(query, subject)
          InternalRow(r.score, UTF8String.fromString(r.cigar),
            UTF8String.fromString(r.queryAligned),
            UTF8String.fromString(r.subjectAligned))
      }
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  private def mk(output: String, query: Column, subject: Column,
      method: String, mismatch: Int, gapOpen: Int, gapExtend: Int): Column = {
    require(method == "wfa2", s"method must be 'wfa2' (got '$method')")
    ColumnBridge.column(AlignPairwise(ColumnBridge.expression(query),
      ColumnBridge.expression(subject), output, mismatch, gapOpen, gapExtend))
  }

  def alignPairwiseScore(
      query: Column, subject: Column,
      method: String = "wfa2", mismatch: Int = 4,
      gapOpen: Int = 6, gapExtend: Int = 2): Column =
    mk("score", query, subject, method, mismatch, gapOpen, gapExtend)

  def alignPairwiseCigar(
      query: Column, subject: Column,
      method: String = "wfa2", mismatch: Int = 4,
      gapOpen: Int = 6, gapExtend: Int = 2): Column =
    mk("cigar", query, subject, method, mismatch, gapOpen, gapExtend)

  def alignPairwiseFull(
      query: Column, subject: Column,
      method: String = "wfa2", mismatch: Int = 4,
      gapOpen: Int = 6, gapExtend: Int = 2): Column =
    mk("full", query, subject, method, mismatch, gapOpen, gapExtend)
}
