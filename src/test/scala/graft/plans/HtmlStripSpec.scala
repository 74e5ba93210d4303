package graft.plans

import graft.{SparkSpec, Tables}
import graft.functions.{TextFunctions => T}
import org.apache.spark.sql.functions._

class HtmlStripSpec extends SparkSpec {
  import spark.implicits._

  private def adversarial = Seq(
    // pass ORDER is observable: the script match spans the comments,
    // so script-first (the chain's order) loses the x
    "<!-- <script> -->x<!-- </script> -->",
    // element open swallowing a nested '<'
    "<script <script>x</script>tail",
    // almost-open prefix before a real element
    "<scr<script>x</script>keep",
    // '<scriptfoo>' opens an element per the [^>]* contract
    "<scriptfoo>gone</script>still here",
    // unclosed element: open tag left for the tag pass
    "<script>never closed",
    "<style>also never closed",
    // unclosed comment and empty/degenerate tags
    "<!-- no close", "a <> b", "a < b > c",
    // entity ordering gauntlet
    "&amp;lt; &amp;amp; &lt;b&gt; &quot;&#39;&nbsp;",
    // case-insensitive element names
    "<SCRIPT>X</ScRiPt>kept <STYLE a=b>y</style>too",
    // whitespace soup incl. vertical tab and CR
    "a\t\n\f\r  b", "   ", "", "plain text",
    // entities that almost match
    "&lt &amp;; &nbsp",
  ).zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "text")

  test("kernel == composed regexp_replace chain on adversarial fixtures") {
    val bad = adversarial
      .withColumn("k", T.stripHtml($"text"))
      .withColumn("c", T.stripHtmlComposed($"text"))
      .filter($"k" =!= $"c")
    assert(bad.count() == 0,
      bad.select("text", "k", "c").collect().mkString("\n"))
  }

  test("kernel == composed chain on real documents wrapped in the q110 HTML") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text")
    val html = concat(
      lit("<html><head><title>Doc "), $"doc_id", lit("</title>"),
      lit("<style type=\"text/css\">body { color: red; }</style>"),
      lit("<script>var x = 1 < 2 && 3 > 2;</script></head><body>"),
      when($"doc_id" % 3 === 0, lit("<!-- hidden comment -->")).otherwise(lit("")),
      lit("<p class=\"main\">"), coalesce($"text", lit("")),
      lit("</p><div>Tom &amp; Jerry &lt;3 &quot;quoted&quot; " +
        "&#39;s&nbsp;end</div></body></html>"))
    val bad = docs.withColumn("h", html)
      .withColumn("k", T.stripHtml($"h"))
      .withColumn("c", T.stripHtmlComposed($"h"))
      .filter($"k" =!= $"c")
    assert(bad.count() == 0,
      bad.select("doc_id", "k", "c").limit(3).collect().mkString("\n"))
  }

  test("CommonCrawl-shaped edge corpus: current behavior PINNED (measured failure modes)") {
    // The stripper is documented as regex-level, not a parser. This
    // corpus pins exactly where that shows on web-shaped HTML, so the
    // limitation has a measured edge instead of an anecdote:
    //  - attribute values containing '>' end the tag early and LEAK a
    //    fragment of the attribute tail into the text (rows 1, 2, 8)
    //  - CDATA sections are not a token: their content is stripped
    //    like markup and the ']]>' tail leaks (row 3)
    //  - '</script>' inside a JS string ends the script element early
    //    and leaks the rest of the script (row 4)
    //  - an UNCLOSED script keeps its code as text minus anything
    //    tag-shaped — degraded-to-text, never silently dropped (row 5)
    // and where it already behaves like a parser would: conditional
    // comments drop whole (row 6), noscript/unclosed-p/tag-wrapped
    // CDATA-in-JS strip clean (rows 7, 9, 10).
    val pinned = Seq(
      ("""<a title="x > y">link</a> after""", """y">link after"""),
      ("""<img alt="a>b" src=x>tail""", """b" src=x>tail"""),
      ("""<![CDATA[ literal <b>bold</b> text ]]>""", """bold text ]]>"""),
      ("""<script>var s = "</script>"; alert(1)</script>end""",
        """"; alert(1) end"""),
      ("""<script>if (a<b) document.write("<p>hi</p>")""", """if (a hi ")"""),
      ("""<!--[if IE 9]><script src="ie.js"></script><![endif]-->visible""",
        "visible"),
      ("""<noscript><img src="t.gif"></noscript>shown""", "shown"),
      ("<div data-json='{\"a\": \"<span>\"}'>body</div>", "\"}'>body"),
      ("<p>para1<p>para2", "para1 para2"),
      ("<script type=\"text/javascript\">\n//<![CDATA[\nvar x=1;\n//]]>\n</script>after",
        "after"),
    )
    val df = pinned.zipWithIndex
      .map { case ((in, want), i) => (i.toLong, in, want) }
      .toDF("id", "text", "want")
    val got = df
      .withColumn("k", T.stripHtml($"text"))
      .withColumn("c", T.stripHtmlComposed($"text"))
      .collect()
    got.foreach { r =>
      assert(r.getString(3) == r.getString(2),
        s"kernel drifted from pinned behavior on ${r.getString(1)}: " +
          s"got '${r.getString(3)}' want '${r.getString(2)}'")
      assert(r.getString(4) == r.getString(2),
        s"composed chain drifted on ${r.getString(1)}")
    }
  }

  test("null propagates; SQL registration") {
    val df = Seq((1L, null.asInstanceOf[String])).toDF("id", "text")
    assert(df.select(T.stripHtml($"text")).head().isNullAt(0))
    df.createOrReplaceTempView("hs_t")
    assert(spark.sql("SELECT graft_strip_html('a<b>c</b>') AS s").head().getString(0)
      == "a c")
  }
}
