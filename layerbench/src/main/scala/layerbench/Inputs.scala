package layerbench

import graft.spark.{Mix, Pages}
import java.nio.charset.{Charset, StandardCharsets}

/** One synthetic document in the shape of the program's `documents`
  * table (doc_id, text, lang, source, n_chars).
  */
final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

/** One generated mixed-charset archive record and what extraction must
  * return for it. `block` is the HTTP response block stored in the WARC
  * record; `charset_mode` names how the body is encoded and declared.
  */
final case class MixedRec(url: String, ts_millis: Long, block: Array[Byte],
    expected_main: String, charset_mode: String)

/** Deterministic input generators. Everything is a pure function of the
  * workload seed, so one seed always gives byte-identical inputs.
  */
object Inputs {

  /** The documents table's vocabulary: 30 equally likely words, 10 to 99
    * words per text, five languages with English the most common.
    */
  val vocab: IndexedSeq[String] = ("spark window merge table column vector stream value data " +
    "small join filter big group hash customer sort order slow line part fast row the agg " +
    "key query a scan batch").split(' ').toVector
  private val langs = Vector("en", "en", "en", "zh", "de", "fr", "es")

  def docs(seed: Long, n: Int): Seq[Doc] = (0 until n).map { i =>
    val rng = new Mix(seed * 0x2545f4914f6cdd1dL + i)
    val words = 10 + rng.nextInt(90)
    val text = (0 until words).map(_ => vocab(rng.nextInt(vocab.length))).mkString(" ")
    Doc(i.toLong, text, langs(rng.nextInt(langs.length)), s"src${i % 20}", text.length.toLong)
  }

  // ---- mixed-script, mixed-charset pages --------------------------------

  /** Replacement words by script, all plain text. */
  private val cjk = Vector("数据", "処理", "検索", "日本語", "中文", "ストリーム", "テーブル", "結合")
  private val cyrillic = Vector("данные", "поток", "таблица", "Москва", "запрос")
  private val accented = Vector("café", "naïve", "Größe", "señor", "façade", "résumé", "“quoted”", "déjà")
  private val astral = Vector("😀", "𝔘𝔫𝔦", "𠀋", "🎉", "𐍈")
  /** Named references and their text. */
  private val named = Vector("&amp;" -> "&", "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
    "&eacute;" -> "é", "&copy;" -> "©", "&mdash;" -> "—", "&hellip;" -> "…", "&euro;" -> "€",
    "&nbsp;" -> "\u00a0")
  /** Hex numeric references, BMP and astral, written without the closing
    * `;` and always followed by a space or `<`, where the spec and the
    * engine decode them alike. The engine keeps two reference-tokenizer
    * quirks that make the other forms decode differently: Q5 (a `;`-closed
    * hex reference is emitted a second time, with the `>` of a later tag,
    * at end of input) and Q4 (decimal references accumulate in base 16).
    */
  private val numeric = Vector("&#xE9" -> "é", "&#x4E2D" -> "中", "&#x1F600" -> "😀",
    "&#x416" -> "Ж", "&#X1F389" -> "🎉")

  /** (mode, body charset, HTTP charset label or null, meta tag or "", BOM). */
  private final case class Mode(name: String, charset: Charset, http: String, meta: String, bom: Boolean)
  private val win1252 = Charset.forName("windows-1252")
  private val sjis = Charset.forName("Shift_JIS")
  private val modes = Vector(
    Mode("utf8-http", StandardCharsets.UTF_8, "utf-8", "", bom = false),
    Mode("utf8-http", StandardCharsets.UTF_8, "utf-8", "", bom = false),
    Mode("utf8-meta", StandardCharsets.UTF_8, null, "<meta charset=\"utf-8\">", bom = false),
    Mode("utf8-none", StandardCharsets.UTF_8, null, "", bom = false),
    Mode("utf8-bom", StandardCharsets.UTF_8, null, "", bom = true),
    Mode("cp1252-http", win1252, "windows-1252", "", bom = false),
    Mode("cp1252-meta", win1252, null, "<meta charset=\"windows-1252\">", bom = false),
    Mode("cp1252-none", win1252, null, "", bom = false),
    Mode("sjis-http", sjis, "shift_jis", "", bom = false),
    Mode("sjis-meta", sjis, null,
      "<meta http-equiv=\"Content-Type\" content=\"text/html; charset=shift_jis\">", bom = false))

  /** True when a record is not both declared and encoded as plain UTF-8. */
  def isCharsetRecord(mode: String): Boolean =
    !(mode == "utf8-http" || mode == "utf8-meta")

  /** The scripts a page's charset can encode: a legacy page carries the
    * text its charset was made for; UTF-8 pages carry every script.
    */
  private def scripts(m: Mode): Vector[Vector[String]] =
    if (m.charset eq sjis) Vector(cjk, cyrillic)
    else if (m.charset eq win1252) Vector(accented)
    else Vector(cjk, cyrillic, accented, astral)

  /** Rewrite an ASCII text into (page markup in the page's charset, the
    * text extraction must return). The first word and a third of the rest
    * are replaced, the first always by raw non-ASCII text, so every page
    * takes the codepoint path once normalized to UTF-8. Every `&` written
    * starts a complete reference, so no page ever ends in a bare `&`.
    */
  private def rewrite(text: String, m: Mode, rng: Mix): (String, String) = {
    val enc = m.charset.newEncoder()
    val pools = scripts(m)
    val markup = new java.lang.StringBuilder(text.length * 2)
    val plain = new java.lang.StringBuilder(text.length * 2)
    def raw(s: String): Unit = {
      require(enc.canEncode(s), s"$s is not encodable in ${m.charset}")
      markup.append(s); plain.append(s)
    }
    def script(): Unit = { val p = pools(rng.nextInt(pools.length)); raw(p(rng.nextInt(p.length))) }
    val words = text.split(' ')
    var w = 0
    while (w < words.length) {
      if (w > 0) { markup.append(' '); plain.append(' ') }
      if (w == 0) script()
      else if (rng.nextInt(3) != 0) raw(words(w))
      else rng.nextInt(3) match {
        case 0 => script()
        case 1 =>
          val (ref, s) = named(rng.nextInt(named.length))
          raw(words(w)); markup.append(ref); plain.append(s)
        case _ =>
          val (ref, s) = numeric(rng.nextInt(numeric.length))
          raw(words(w)); markup.append(ref); plain.append(s)
      }
      w += 1
    }
    (markup.toString, plain.toString)
  }

  /** One mixed record per (document, variant). The page skeleton is the
    * program's own `Pages.render` (same boilerplate, same content contract:
    * main text is exactly the `<p>` text); its `<meta charset="utf-8">` is
    * replaced by the record's own declaration, or dropped.
    */
  def mixedRecord(seed: Long, d: Doc, variant: Int): MixedRec = {
    val rng = new Mix(seed * 0x9e3779b97f4a7c15L + d.doc_id * 7919L + variant)
    val m = modes(rng.nextInt(modes.length))
    val (markup, plain) = rewrite(d.text, m, rng)
    val html = Pages.render(d.doc_id, variant, markup, d.lang, d.source)
      .replace("<meta charset=\"utf-8\">", m.meta)
    val body0 = html.getBytes(m.charset)
    val body =
      if (!m.bom) body0
      else Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++ body0
    val url = Pages.urlOf(d.doc_id, variant, d.lang, d.source)
    val ts = 1609459200000L + d.doc_id * 1000L + variant
    MixedRec(url, ts, graft.sources.Warc.httpBlock(body, m.http), plain, m.name)
  }
}
