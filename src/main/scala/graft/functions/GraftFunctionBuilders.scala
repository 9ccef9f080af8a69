package graft.functions

import graft.functions.CigarExpressions._
import graft.functions.SequenceExpressions.SequenceTransform
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{And, BitwiseAnd, Cast, EqualTo, Expression, Literal, Not}
import org.apache.spark.sql.types.{IntegerType, StringType}

/** THE single definition of the SQL function surface: every name the
  * reference registers (src/miint_extension.cpp:65-117) mapped to a
  * native expression builder. Consumed by BOTH registration paths —
  * GraftExtensions (spark.sql.extensions, cluster-wide) and
  * MiintRegistry.registerAll (programmatic, per-session) — so the two
  * can never drift apart.
  */
object GraftFunctionBuilders {

  type Builder = Seq[Expression] => Expression
  final case class Fn(name: String, usage: String, builder: Builder)

  private val nullStr = Literal.create(null, StringType)

  private def arity1(name: String)(f: Expression => Expression): Builder = {
    case Seq(a) => f(a)
    case other => throw new IllegalArgumentException(
      s"$name expects 1 argument, got ${other.length}")
  }

  /** Direct catalyst construction (a Column-API detour would produce
    * lazily-converted ColumnNodeExpressions that never resolve inside
    * a function builder). Cast-to-int makes any integral flags column
    * acceptable, like the Column API's coercion would.
    */
  private def flagTest(mask: Int)(arg: Expression): Expression =
    Not(EqualTo(
      BitwiseAnd(Cast(arg, IntegerType), Literal(mask)), Literal(0)))

  private def primaryTest(arg: Expression): Expression =
    And(
      EqualTo(BitwiseAnd(Cast(arg, IntegerType), Literal(0x100)), Literal(0)),
      EqualTo(BitwiseAnd(Cast(arg, IntegerType), Literal(0x800)), Literal(0)))

  private val cigarFns: Seq[Fn] = Seq(
    Fn("alignment_seq_identity",
      "alignment_seq_identity(cigar, nm[, md[, type]]) - Heng Li sequence identity",
      {
        case Seq(c, nm)        => AlignmentSeqIdentity(c, nm, nullStr, Literal("gap_compressed"))
        case Seq(c, nm, md)    => AlignmentSeqIdentity(c, nm, md, Literal("gap_compressed"))
        case Seq(c, nm, md, t) => AlignmentSeqIdentity(c, nm, md, t)
        case other => throw new IllegalArgumentException(
          s"alignment_seq_identity expects 2-4 arguments, got ${other.length}")
      }),
    Fn("alignment_query_length",
      "alignment_query_length(cigar[, include_hard_clips]) - query length from CIGAR",
      {
        case Seq(c)    => AlignmentQueryLength(c, Literal(true))
        case Seq(c, h) => AlignmentQueryLength(c, h)
        case other => throw new IllegalArgumentException(
          s"alignment_query_length expects 1-2 arguments, got ${other.length}")
      }),
    Fn("alignment_query_coverage",
      "alignment_query_coverage(cigar[, type]) - covered fraction of the query",
      {
        case Seq(c)    => AlignmentQueryCoverage(c, Literal("aligned"))
        case Seq(c, t) => AlignmentQueryCoverage(c, t)
        case other => throw new IllegalArgumentException(
          s"alignment_query_coverage expects 1-2 arguments, got ${other.length}")
      }))

  private val sequenceFns: Seq[Fn] =
    Seq("sequence_dna_reverse_complement" -> "dnaRevComp",
      "sequence_rna_reverse_complement" -> "rnaRevComp",
      "sequence_dna_as_regexp" -> "dnaAsRegexp",
      "sequence_rna_as_regexp" -> "rnaAsRegexp")
      .map { case (name, fn) =>
        Fn(name, s"$name(seq) - IUPAC-aware sequence transform",
          arity1(name)(SequenceTransform(_, fn, name)))
      }

  /** (canonical, htslib alias, expression impl) — reference:
    * src/alignment_flag_functions.cpp:87-165.
    */
  private val flagDefs: Seq[(String, String, Expression => Expression)] = Seq(
    ("alignment_is_paired", "is_paired", flagTest(0x1) _),
    ("alignment_is_proper_pair", "is_proper_pair", flagTest(0x2) _),
    ("alignment_is_unmapped", "is_unmapped", flagTest(0x4) _),
    ("alignment_is_mate_unmapped", "is_munmap", flagTest(0x8) _),
    ("alignment_is_reverse", "is_reverse", flagTest(0x10) _),
    ("alignment_is_mate_reverse", "is_mreverse", flagTest(0x20) _),
    ("alignment_is_read1", "is_read1", flagTest(0x40) _),
    ("alignment_is_read2", "is_read2", flagTest(0x80) _),
    ("alignment_is_secondary", "is_secondary", flagTest(0x100) _),
    ("alignment_is_qc_failed", "is_qcfail", flagTest(0x200) _),
    ("alignment_is_duplicate", "is_dup", flagTest(0x400) _),
    ("alignment_is_supplementary", "is_supplementary", flagTest(0x800) _),
    ("alignment_is_primary", "is_primary", primaryTest _))

  private val flagFns: Seq[Fn] = flagDefs.flatMap { case (canonical, alias, impl) =>
    Seq(canonical, alias).map(n =>
      Fn(n, s"$n(flags) - SAM flag predicate", arity1(n)(impl)))
  }

  /** parse_gff_attributes(kvp) as a raw catalyst expression — the
    * analyzer resolves the lambda variable like any higher-order
    * function call (mirrors ops/Gff.parseGffAttributes; reference
    * macro: src/include/miint_macros.hpp:102-113).
    */
  private def parseGffAttributes(arg: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{ArrayTransform, CreateNamedStruct, ElementAt, LambdaFunction, MapFromEntries, StringSplit, UnresolvedNamedLambdaVariable}
    val x = UnresolvedNamedLambdaVariable(Seq("x"))
    def kv(i: Int): Expression =
      ElementAt(StringSplit(x, Literal("="), Literal(-1)), Literal(i))
    val entry = CreateNamedStruct(Seq(
      Literal("key"), kv(1), Literal("value"), kv(2)))
    MapFromEntries(ArrayTransform(
      StringSplit(arg, Literal(";"), Literal(-1)),
      LambdaFunction(entry, Seq(x))))
  }

  private val pairwiseFns: Seq[Fn] = Seq(
    "score" -> "INT penalty",
    "cigar" -> "STRUCT(score, cigar)",
    "full" -> "STRUCT(score, cigar, query_aligned, subject_aligned)")
    .map { case (output, result) =>
      val name = s"align_pairwise_$output"
      Fn(name,
        s"$name(query, subject) - gap-affine global alignment, $result",
        {
          case Seq(q, s) => PairwiseFunctions.AlignPairwise(q, s, output)
          case other => throw new IllegalArgumentException(
            s"$name expects 2 arguments, got ${other.length}")
        })
    }

  private val otherFns: Seq[Fn] = Seq(
    Fn("parse_gff_attributes",
      "parse_gff_attributes(kvp) - split 'k=v;...' into MAP<STRING,STRING>",
      arity1("parse_gff_attributes")(parseGffAttributes)),
    Fn("compress_intervals",
      "compress_intervals(start, stop) - merge overlapping/touching intervals",
      {
        case Seq(s, e) => CompressIntervalsAgg(s, e).toAggregateExpression()
        case other => throw new IllegalArgumentException(
          s"compress_intervals expects 2 arguments, got ${other.length}")
      }),
    Fn("top_k_by",
      "top_k_by(score, id, k) - k best (score DESC, id ASC) pairs, O(k) state",
      {
        case Seq(s, i, Literal(k: Int, IntegerType)) =>
          TopKAgg(s, i, k).toAggregateExpression()
        case other => throw new IllegalArgumentException(
          "top_k_by expects (score, id, k literal int), got " +
            other.mkString(", "))
      }),
    Fn("miint_version", "miint_version() - library version",
      {
        case Seq() => Literal(MiintRegistry.version)
        case other => throw new IllegalArgumentException(
          s"miint_version expects 0 arguments, got ${other.length}")
      }),
    // plan-time probe: each query analysis re-checks PATH, matching the
    // reference's call-time semantics closely enough for a probe
    Fn("bowtie2_available", "bowtie2_available() - PATH probe",
      {
        case Seq() => Literal(MiintRegistry.bowtie2Available())
        case other => throw new IllegalArgumentException(
          s"bowtie2_available expects 0 arguments, got ${other.length}")
      }),
    // html_to_text as raw catalyst: the same ops/Html.Steps chain the
    // Column API builds, nested RegExpReplace — codegen'd, no UDF
    Fn("html_to_text",
      "html_to_text(html) - strip scripts/styles/comments/tags, decode entities, collapse whitespace",
      arity1("html_to_text") { arg =>
        import org.apache.spark.sql.catalyst.expressions.{RegExpReplace, StringTrim}
        StringTrim(graft.ops.Html.Steps.foldLeft(arg) { case (e, (p, r)) =>
          RegExpReplace(e, Literal(p), Literal(r))
        })
      }))

  val all: Seq[Fn] = cigarFns ++ sequenceFns ++ flagFns ++ pairwiseFns ++ otherFns

  def registerAll(registry: FunctionRegistry): Unit =
    all.foreach(f =>
      registry.createOrReplaceTempFunction(f.name, f.builder, "built-in"))
}
