package graft.kernel

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[HtmlKernel.htmlToText]] bit-identical to the
  * [[graft.ops.Html.Steps]] regexp_replace chain it replaces (r15):
  * the reference below applies each step with java.util.regex exactly
  * as Spark's regexp_replace does (Matcher.replaceAll; the
  * replacement strings contain no `$`/`\` so no escaping divergence),
  * then strips ' ' (0x20) at both edges as Spark's StringTrim does —
  * the same operators Catalyst compiles the expression chain to.
  */
class HtmlKernelSpec extends AnyFunSuite {

  private def reference(s: String): String =
    graft.ops.Html.Steps.foldLeft(s) { case (acc, (pat, rep)) =>
      java.util.regex.Pattern.compile(pat).matcher(acc).replaceAll(rep)
    }.replaceAll("\\A +| +\\z", "")

  private def check(s: String): Unit =
    assert(HtmlKernel.htmlToText(s) == reference(s), s"input: ${s.take(200)}")

  test("adversarial fixtures match the regex chain exactly") {
    // trim strips only ' ' (0x20), like StringTrim: edge controls stay
    val edgeControls = "\u0001leading control survives collapse and trim\u0001"
    assert(HtmlKernel.htmlToText(edgeControls) == edgeControls)
    val cases = Seq(
      "",
      "plain text no markup",
      "<p>Hello <b>world</b></p>",
      // script blocks: case variants, attribute junk, nested opens
      "<script>var x = '<p>';</script>after",
      "<SCRIPT type=\"text/javascript\">a < b && c > d</SCRIPT>tail",
      "a<script>b<script>c</script>d", // inner open swallowed by .*?
      "<scriptify src=x>matches the open pattern too</script>rest",
      "<script no close tag runs to nowhere",
      "<script>unclosed block <b>keeps</b> later tags",
      "<sc<script>x</script>ript>split open",
      // style, incl. style created by removing a script? (ordering)
      "<style>p { color: red; }</style>body",
      "<sty<script>x</script>le>assembled style open then tag pass",
      "<STYLE a=b>.x{}</style>Z",
      // comments, incl. pathological short forms
      "before<!-- comment <p> -->after",
      "<!--->not closed",
      "<!---->empty",
      "<!-- unterminated",
      "a<!--b-->c<!--d-->e",
      // tags: empty, unclosed, crlf inside
      "<>empty tag",
      "text < unclosed",
      "a<br\n/>b",
      "angle > alone keeps",
      // entities: all six, doubles, the amp-last contract, overlaps
      "&lt;tag&gt; &quot;q&quot; &#39;a&#39; x&nbsp;y &amp; z",
      "&amp;lt; decodes to literal &lt; not <",
      "&amp;amp; &AMP; &LT; case sensitive",
      "&&lt; &l&lt;t;",
      "&#390; &nbsp not an entity",
      // whitespace: every \s member, non-\s controls at the edges,
      // unicode spaces that Java \s does NOT cover
      " \t\n\u000B\f\r mixed   runs \t ",
      edgeControls,
      "\u00a0nbsp-char is not \\s\u00a0",
      "e\u0301 combining, \u1e9e unicode sharp s",
      // full documents
      "<html><head><title>T</title><style>h1{}</style>" +
        "<script>if(a<b){}</script></head><body>" +
        "<!-- nav --><h1>Header</h1><p>Body &amp; more&nbsp;text." +
        "</p></body></html>",
      // Kelvin sign / long s must NOT case-fold in tag names ((?i) is
      // ASCII-only)
      "<\u017fcript>long-s is not script</\u017fcript>",
      "<scrip\u212a>kelvin</scrip\u212a>")
    cases.foreach(check)
  }

  test("randomized html-ish soup matches the regex chain exactly") {
    val rnd = new scala.util.Random(4242)
    val atoms = Array("<script>", "</script>", "<SCRIPT a=b>", "<style>",
      "</style>", "<!--", "-->", "<p>", "</p>", "<", ">", "<br/>",
      "&lt;", "&gt;", "&quot;", "&#39;", "&nbsp;", "&amp;", "&", ";",
      "word", "x y", " ", "\t", "\n", "\r", "\u000B", "\f", "\u00a0",
      "\u0001", "text<scr", "ipt>", "</scr", "ript>")
    (0 until 500).foreach { _ =>
      val n = rnd.nextInt(30)
      val s = (0 until n).map(_ => atoms(rnd.nextInt(atoms.length))).mkString
      check(s)
    }
  }

  test("null propagates like the expression chain") {
    assert(HtmlKernel.htmlToText(null) == null)
  }
}
