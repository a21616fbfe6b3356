package graft.dom

import org.scalatest.funsuite.AnyFunSuite

/** DOM vectors for the insertion-mode tree construction in ExtractSink:
  * implied html/head/body, table foster parenting, implied row/cell ends,
  * scope-bounded end tags, active-formatting reconstruction, and the
  * foreign-content CDATA entry (spec mode). Each asserts the extracted text
  * AND the span anchoring (path/block), which is where tree shape becomes
  * observable to a user of the engine.
  */
class DomVectorsSpec extends AnyFunSuite {

  private def ex(html: String): ExtractResult = Extractor.extractString(html)

  test("implied html/head/body: bare fragment anchors under /html/body") {
    val r = ex("hello<p>world</p>")
    assert(r.text == "helloworld")
    assert(r.spans.length == 2)
    assert(r.spans(0).path.startsWith("/html/body#"))
    assert(r.spans(1).path.startsWith("/html/body/p#"))
  }

  test("implied head: metadata before body lands in head (skipped), text opens body") {
    val r = ex("<title>t</title>after")
    assert(r.text == "after")
    assert(r.spans.head.path.startsWith("/html/body#"))
  }

  test("whitespace between head and body is dropped, not body-opening") {
    val r = ex("<head><title>x</title></head>\n  <body><p>content here</p></body>")
    assert(r.text == "content here")
    assert(r.spans.length == 1)
  }

  test("table foster parenting: stray text in table context is anchored before the table") {
    val r = ex("<body><table>x<tr><td>y</td></tr></table></body>")
    assert(r.text == "xy") // token order is preserved; anchoring differs
    assert(r.spans.length == 2)
    assert(r.spans(0).path.startsWith("/html/body#"), s"fostered path: ${r.spans(0).path}")
    assert(r.spans(1).path.startsWith("/html/body/table/tr/td#"))
  }

  test("stray element in table context is foster-parented before the table") {
    val r = ex("<table><div>fostered text</div><tr><td>cell</td></tr></table>")
    assert(r.text == "fostered textcell")
    val d = r.spans(0)
    assert(d.path.endsWith("/div#" + d.path.split('#')(1)))
    // the div's arena parent is the table's parent (body), not the table
    assert(r.spans(1).path.contains("/td#"))
  }

  test("implied tr/td ends: a new row closes the open one") {
    val r = ex("<table><tr><td>a<td>b<tr><td>c</table>tail")
    assert(r.text == "abctail")
    val paths = r.spans.map(_.path)
    assert(paths(0).contains("/tr/td#") && paths(1).contains("/tr/td#") && paths(2).contains("/tr/td#"))
    // tail lands back in body after </table>
    assert(paths(3).startsWith("/html/body#"))
  }

  test("end tag never matches across a table-cell scope boundary") {
    // the </div> inside the cell must not close the outer div
    val r = ex("<div>a<table><tr><td>b</div>c</td></tr></table>d</div>")
    assert(r.text == "abcd")
    assert(r.spans(2).path.contains("/td#"), s"c stays in the cell: ${r.spans(2).path}")
    assert(r.spans(3).path.contains("/div#"), s"d still inside outer div: ${r.spans(3).path}")
  }

  test("formatting reconstruction: <b> reopens in the next paragraph after implied </p>") {
    val r = ex("<p><b>one</p><p>two</p>")
    assert(r.text == "onetwo")
    assert(r.spans(0).path.contains("/p/b#"))
    assert(r.spans(1).path.contains("/p/b#"), s"b reconstructed: ${r.spans(1).path}")
  }

  test("misnested formatting <b><i>a</b>b</i>: i is reconstructed after b closes") {
    val r = ex("<p><b><i>a</b>b</i>c</p>")
    assert(r.text == "abc")
    assert(r.spans(0).path.contains("/b/i#"))
    assert(r.spans(1).path.contains("/p/i#") && !r.spans(1).path.contains("/b/"),
      s"b closed, i reconstructed: ${r.spans(1).path}")
    assert(!r.spans(2).path.contains("/i#"), s"i closed: ${r.spans(2).path}")
  }

  test("matched formatting end tag does not trigger reconstruction later") {
    val r = ex("<p><b>x</b>y</p>")
    assert(r.spans(0).path.contains("/b#"))
    assert(!r.spans(1).path.contains("/b#"))
  }

  test("reconstruction never crosses a table marker, but resumes after the table") {
    // <b> is implicitly closed by the table (via implied </p>); cell text
    // must NOT reconstruct it across the marker, the tail after </table> must
    val r = ex("<p><b>one</p><table><tr><td>plain</td></tr></table>tail")
    assert(r.text == "oneplaintail")
    assert(r.spans(0).path.contains("/b#"))
    assert(!r.spans(1).path.contains("/b#") && !r.spans(1).path.contains("/b/"), s"no b inside cell: ${r.spans(1).path}")
    assert(r.spans(2).path.contains("/b#"), s"b resurrected after table: ${r.spans(2).path}")
  }

  test("end tag inside a cell cannot close formatting opened outside the table") {
    val r = ex("<p><b>x<table><tr><td></b>plain</td></tr></table>y</b>z</p>")
    assert(r.text == "xplainyz")
    assert(r.spans(1).path.contains("/td#"))
    assert(r.spans(2).path.contains("/b#") || r.spans(2).path.contains("/b/"), s"outer b survived the cell's </b>: ${r.spans(2).path}")
    assert(!r.spans(3).path.contains("/b#") && !r.spans(3).path.contains("/b/"), s"real </b> closed it: ${r.spans(3).path}")
  }

  test("misnested formatting across a block: full adoption agency tree shape") {
    // section does NOT implied-close anything here, so <b> genuinely spans
    // the block and </b> runs the adoption agency: the section is adopted by
    // the div, a <b> clone wraps the section's existing children, and
    // content after </b> is outside any b — the spec tree
    // (WHATWG §13.2.6.4.7), asserted per span
    val r = ex("<div>1<b>2<section>3</b>4</section>5</div>")
    assert(r.text == "12345")
    assert(r.spans(1).path.contains("/div/b#"))
    assert(r.spans(2).path.contains("/div/section/b#"),
      s"clone wraps the section's children: ${r.spans(2).path}")
    assert(!r.spans(3).path.contains("/b#") && !r.spans(3).path.contains("/b/"),
      s"post-close content left the b: ${r.spans(3).path}")
    assert(r.spans(3).path.contains("/div/section#"),
      s"section now hangs off the div, not the b: ${r.spans(3).path}")
    assert(r.spans(4).path.endsWith("/div#" + r.spans(4).path.split('#')(1)),
      s"after </section>, back in div without b: ${r.spans(4).path}")
  }

  test("adoption agency spec example: <b>1<p>2</b>3</p>") {
    // the canonical misnested-tags example: b{1}, p{b{2}, 3}
    val r = ex("<b>1<p>2</b>3</p>")
    assert(r.text == "123")
    assert(r.spans(0).path.contains("/body/b#"))
    assert(r.spans(1).path.contains("/body/p/b#"),
      s"2 sits in the b clone inside the p: ${r.spans(1).path}")
    assert(r.spans(2).path.endsWith("/p#" + r.spans(2).path.split('#')(1)) &&
      !r.spans(2).path.contains("/b#") && !r.spans(2).path.contains("/b/"),
      s"3 is a plain child of the p: ${r.spans(2).path}")
  }

  test("adoption agency keeps link attribution honest: <a>1<p>2</a>3</p>") {
    val r = ex("<a>1<p>2</a>3</p>")
    assert(r.text == "123")
    assert(r.spans(0).link && r.spans(0).path.contains("/body/a#"))
    assert(r.spans(1).link && r.spans(1).path.contains("/p/a#"),
      s"2 in the adopted a clone: ${r.spans(1).path}")
    assert(!r.spans(2).link && !r.spans(2).path.contains("/a#") &&
      !r.spans(2).path.contains("/a/"),
      s"3 is outside any link: ${r.spans(2).path}")
  }

  test("adoption agency inner loop: <b><i><div>x</b>y clones the i chain") {
    val r = ex("<p>0</p><b><i><div>x</b>y</div>")
    assert(r.text == "0xy")
    // spec: i is cloned (inner loop), div is adopted under the i clone,
    // a b clone wraps the div's children; y lands in the div (italic, not bold)
    assert(r.spans(1).path.contains("/i/div/b#"),
      s"x wrapped by the b clone inside the adopted div: ${r.spans(1).path}")
    assert(r.spans(2).path.contains("/i/div#") && !r.spans(2).path.contains("/b#") &&
      !r.spans(2).path.contains("/b/"),
      s"y italic but not bold: ${r.spans(2).path}")
  }

  test("implied p-close before a block reconstructs formatting inside the block (spec)") {
    val r = ex("<p>1<b>2<div>3</b>4</div>5")
    assert(r.text == "12345")
    assert(r.spans(1).path.contains("/p/b#"))
    assert(r.spans(2).path.contains("/div/b#"), s"b reconstructed inside div: ${r.spans(2).path}")
    assert(!r.spans(3).path.contains("/b#") && !r.spans(3).path.contains("/b/"),
      s"closed for good after </b>: ${r.spans(3).path}")
    assert(r.spans(4).path.startsWith("/html/body#"), s"5 lands in body: ${r.spans(4).path}")
  }

  test("link attribution follows reconstruction") {
    val r = ex("<p><a href=\"/x\">one</p><p>two</p>")
    assert(r.spans(0).link && r.spans(1).link, "reconstructed <a> keeps link attribution")
  }

  test("CDATA in foreign content (spec mode) is character data, not a bogus comment") {
    val r = ex("<div><svg><![CDATA[x<y]]></svg>ok</div>")
    assert(r.text == "ok") // svg subtree is blacklisted, but chars were emitted
    assert(!r.errors.contains("cdata_in_html_content"))
    assert(r.nTokens >= 3 + 1 + 4) // x,<,y chars + tags + ok
  }

  test("CDATA in HTML content stays a bogus comment (spec + reference agree)") {
    val r = ex("<div><![CDATA[x]]>ok</div>")
    assert(r.text == "ok")
    assert(r.errors.contains("cdata_in_html_content"))
  }

  test("headless page: pre-body leading whitespace dropped in batch paths too") {
    // per-char, codepoint-batch and ascii-byte-batch paths must agree: the
    // whitespace before body opens is dropped, the text from the first
    // non-ws cp onward is kept (ADVICE r2: batch paths kept the leading ws)
    val r = ex("  \n\thello world")
    assert(r.text == "hello world", s"got '${r.text}'")
    val rb = Extractor.extractInto("  \n\thello world".getBytes("UTF-8"), new ExtractSink)
    assert(rb.text == "hello world", s"byte mode got '${rb.text}'")
    val rc = Extractor.extractInto("  héllo world".getBytes("UTF-8"), new ExtractSink)
    assert(rc.text == "héllo world", s"cp mode got '${rc.text}'")
  }

  test("Noah's Ark clause bounds reconstruction on pathological repeated formatting") {
    // 5,000 unclosed <b> tags: the AFL keeps at most 3 same-name entries per
    // marker scope, so the next paragraph reconstructs ≤ 3 nested b — not
    // 5,000 (which would also make every text run O(n) in list length)
    val r = ex("<p>" + "<b>" * 5000 + "one</p><p>two</p>")
    assert(r.text == "onetwo")
    val bCount = r.spans(1).path.sliding(3).count(s => s == "/b/" || s == "/b#")
    assert(bCount <= 3, s"reconstructed $bCount b's: ${r.spans(1).path.take(120)}")
  }

  test("title capture: first title wins, content never leaks into text") {
    val r = ex("<html><head><title>My Page</title></head><body><p>content text</p><title>late</title></body></html>")
    assert(r.title == "My Page")
    assert(r.text == "content text", s"title leaked: '${r.text}'")
    val r2 = ex("no title here at all")
    assert(r2.title == "")
    // RCDATA semantics: markup inside title is text, char refs still decode
    val r3 = ex("<title>a<b&amp;c</title>body")
    assert(r3.title == "a<b&c")
  }

  test("after-body text re-enters body") {
    val r = ex("<body><p>a</p></body>tail</html>")
    assert(r.text == "atail")
    assert(r.spans(1).path.startsWith("/html/body#"))
  }

  test("nobr in scope runs the adoption agency: siblings, never nested") {
    val sink = new ExtractSink
    Extractor.extractCpsInto(
      graft.core.RefTokenizer.codepoints("<body><nobr>x<nobr>y</body>"), sink)
    val a = sink.arena
    var deepest = 0
    var id = 0
    while (id < a.size) {
      if (a.name(id) == "nobr") {
        var d = 0
        var p = a.parent(id)
        while (p >= 0) { if (a.name(p) == "nobr") d += 1; p = a.parent(p) }
        deepest = math.max(deepest, d)
      }
      id += 1
    }
    assert(deepest == 0, "nobr elements must not nest")
  }

  test("leading newline after <pre>/<textarea> is dropped (next token only)") {
    assert(ex("<pre>\ncode</pre>").text == "code")
    assert(ex("<pre>x\ny</pre>").text == "x\ny", "only the IMMEDIATE newline drops")
    assert(ex("<pre>\n\ncode</pre>").text == "\ncode", "only ONE newline drops")
    assert(ex("<div>a</div><textarea>\nta</textarea>b").text == "atab")
    assert(ex("<pre><!--c-->\ncode</pre>").text == "\ncode",
      "an intervening token (comment) cancels the drop")
    // batch byte path agrees with the per-cp path
    val rb = Extractor.extractInto("<pre>\ncode</pre>".getBytes("UTF-8"), new ExtractSink)
    assert(rb.text == "code", s"byte path kept the newline: '${rb.text}'")
  }

  test("nested <a> runs the adoption agency: links are siblings, never nested") {
    val r = ex("<a href=\"/1\">one<a href=\"/2\">two</a>three")
    assert(r.text == "onetwothree")
    assert(r.spans(0).link && r.spans(0).path.contains("/body/a#"))
    assert(r.spans(1).link && r.spans(1).path.contains("/body/a#") &&
      r.spans(1).path.split('#')(1) != r.spans(0).path.split('#')(1),
      s"second a is a NEW sibling: ${r.spans(1).path} vs ${r.spans(0).path}")
    assert(!r.spans(1).path.contains("/a/a"), "a's must not nest")
    assert(!r.spans(2).link, s"text after </a> is not linked: ${r.spans(2).path}")
  }

  test("clear-to-table-context: an unclosed <b> never captures table rows (§13.2.6.4.9)") {
    // browser shape: b("f") fostered before the table, tr/td INSIDE the
    // table (the <tr> start pops the open b back to table context, marking
    // it for reconstruction), cell text un-bolded, post-table text re-bolded
    val r = ex("<body><table><b>f<tr><td>c</td></tr></table>t</body>")
    assert(r.text == "fct")
    assert(r.spans(0).path.contains("/body/b#"), s"f bold, fostered: ${r.spans(0).path}")
    assert(r.spans(1).path.contains("/body/table/tr/td#"),
      s"cell belongs to the table, not the b: ${r.spans(1).path}")
    assert(r.spans(2).path.contains("/body/b#"),
      s"t re-bolded by reconstruction after </table>: ${r.spans(2).path}")
  }

  test("clear-to-row-context: a <td> pops an unclosed span back to its row") {
    val r = ex("<table><tr><span><td>x</td></tr></table>")
    assert(r.text == "x")
    assert(r.spans(0).path.contains("/table/tr/td#"),
      s"td under tr, span popped: ${r.spans(0).path}")
    assert(!r.spans(0).path.contains("/span"), s"span must not capture the cell: ${r.spans(0).path}")
  }

  test("stray table parts outside any table stay ordinary elements") {
    val r = ex("<div><tr><td>loose</td></tr></div>after")
    assert(r.text == "looseafter")
    assert(r.spans(0).path.contains("/div/tr/td#"),
      s"no table in scope → no clearing: ${r.spans(0).path}")
  }

  test("fostered nodes precede the table in sibling order (§13.2.6.4.9)") {
    // the spec inserts fostered content immediately BEFORE the table; the
    // body's child list must read: fostered text, fostered div, table
    val sink = new ExtractSink
    Extractor.extractCpsInto(
      graft.core.RefTokenizer.codepoints(
        "<body><table>x<div>d</div><tr><td>cell</td></tr></table></body>"), sink)
    val a = sink.arena
    // find the body node and walk its children
    var body = -1
    var id = 0
    while (id < a.size) { if (a.name(id) == "body") body = id; id += 1 }
    assert(body >= 0)
    val kids = scala.collection.mutable.ArrayBuffer.empty[String]
    var c = a.firstChild(body)
    while (c >= 0) { kids += (if (a.name(c) == null) "#text" else a.name(c)); c = a.nextSibling(c) }
    assert(kids.toList == List("#text", "div", "table"),
      s"fostered content must precede the table: $kids")
  }

  test("successive fostered siblings keep document order before the table") {
    val sink = new ExtractSink
    Extractor.extractCpsInto(
      graft.core.RefTokenizer.codepoints(
        "<table><div>a</div><span>b</span>c<tr><td>d</td></tr></table>"), sink)
    val a = sink.arena
    var body = -1
    var id = 0
    while (id < a.size) { if (a.name(id) == "body") body = id; id += 1 }
    val kids = scala.collection.mutable.ArrayBuffer.empty[String]
    var c = a.firstChild(body)
    while (c >= 0) { kids += (if (a.name(c) == null) "#text" else a.name(c)); c = a.nextSibling(c) }
    assert(kids.toList == List("div", "span", "#text", "table"),
      s"relative order of fostered nodes preserved, table last: $kids")
    assert(sink.arena.size > 0)
  }

  test("extract-mode numeric references: base-10 decimals, one hex end, saturation to U+FFFD") {
    def page(body: String) = s"<html><body><p>$body</p></body></html>"
    // byte mode (extract over ASCII bytes) and codepoint mode agree
    def both(body: String): Seq[ExtractResult] =
      Seq(Extractor.extract(page(body).getBytes("UTF-8")), ex(page(body)))
    both("don&#8217;t stop").foreach(r => assert(r.mainText == "don\u2019t stop"))
    both("caf&#233; ok").foreach(r => assert(r.text == "caf\u00e9 ok"))
    both("&#x41;z tail").foreach(r =>
      assert(r.text == "Az tail", s"hex ';' must end the reference once: ${r.text}"))
    both("&#99999999999;x").foreach(r => assert(r.text == "\ufffdx"))
  }

  test("extract over bytes is the kernel's byte entry: BOM stripped, legacy charset sniffed") {
    val w1252 = "<html><body><p>caf\u00e9 au lait</p></body></html>"
      .getBytes(java.nio.charset.Charset.forName("windows-1252"))
    val bom = Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++
      "<html><body><p>b\u00f8m page</p></body></html>".getBytes("UTF-8")
    for ((html, want) <- Seq(w1252 -> "caf\u00e9 au lait", bom -> "b\u00f8m page")) {
      val viaExtract = Extractor.extract(html)
      val viaInto = Extractor.extractInto(html, new ExtractSink)
      assert(viaExtract.text == viaInto.text && viaExtract.mainText == viaInto.mainText)
      assert(viaExtract.text == want)
      assert(!viaExtract.text.contains('\ufeff'))
    }
  }
}
