package layerbench

import graft.core.{RefTokenizer, StepBudgetExceeded, TokenSink, VCastPanic}
import graft.dom.{ExtractSink, Extractor}
import graft.sources.CharsetSniff
import graft.spark.PageRow

/** A timed interval in the benchmark's own code. Times are `System.nanoTime`
  * of the one local-mode JVM, so spans around passes and inside tasks
  * share a clock.
  */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long, run: String)

/** In-memory span log, written out when the run ends. */
final class Trace(val run: String, val enabled: Boolean) {
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var stack: List[Long] = Nil

  def newId(): Long = synchronized { val i = nextId; nextId += 1; i }
  def current: Long = stack.headOption.getOrElse(0L)

  def apply[T](name: String, id: Long = newId())(f: => T): T = {
    if (!enabled) return f
    val parent = current
    stack = id :: stack
    val t0 = System.nanoTime()
    try f
    finally {
      stack = stack.tail
      add(Span(id, parent, name, t0, System.nanoTime(), run))
    }
  }

  def add(s: Span): Unit = synchronized { spans += s }

  /** Spans with their self time: duration minus the union of the children's
    * intervals (children of one parent may overlap, e.g. parallel tasks).
    */
  def withSelf: Seq[(Span, Long)] = {
    val kids = spans.groupBy(_.parent)
    spans.toSeq.sortBy(_.startNs).map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter(x => x._2 > x._1).sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      (s, s.endNs - s.startNs - covered)
    }
  }
}

/** Log-scale latency histogram: 8 buckets per power of two of nanoseconds. */
object Hist {
  val size = 8 * 48
  def bucket(ns: Long): Int = {
    if (ns <= 1) 0
    else {
      val lg = 63 - java.lang.Long.numberOfLeadingZeros(ns)
      val frac = ((ns << 3) >>> lg).toInt & 7 // 3 bits below the leading one
      math.min(lg * 8 + frac, size - 1)
    }
  }
  /** Upper edge of a bucket in ns. */
  def upper(b: Int): Double = {
    val lg = b / 8
    val frac = b % 8
    math.pow(2, lg) * (1 + (frac + 1) / 8.0)
  }
  def merge(hs: Seq[Array[Long]]): Array[Long] = {
    val out = new Array[Long](size)
    hs.foreach(h => { var i = 0; while (i < size) { out(i) += h(i); i += 1 } })
    out
  }
  /** Value at quantile q (bucket upper edge, ns). */
  def quantile(h: Array[Long], q: Double): Double = {
    val n = h.sum
    val rank = math.ceil(q * n).toLong.max(1L)
    var acc = 0L
    var i = 0
    while (i < size) { acc += h(i); if (acc >= rank) return upper(i); i += 1 }
    upper(size - 1)
  }
  /** Highest of 50, 90, 99, 99.9, ... with at least ten samples beyond it. */
  def tailPct(n: Long): Double =
    Iterator.iterate(0.9)(p => 1 - (1 - p) / 10).takeWhile(p => n * (1 - p) >= 10 - 1e-9)
      .toSeq.lastOption.getOrElse(0.5) * 100
}

/** Per-partition totals of the single-page layer arms. */
final case class ArmStats(partition: Int, startNs: Long, endNs: Long,
    pages: Long, bytes: Long, bytePages: Long, decodeNs: Long, tokenizeNs: Long, extractNs: Long,
    stepExits: Long, tokens: Long, tags: Long, parseErrors: Long, hist: Array[Long])

/** Token sink that does nothing: the tokenizer's own cost, no tree. */
final class NoopSink extends TokenSink {
  def char(cp: Int): Unit = ()
  override def chars(src: Array[Int], from: Int, until: Int): Unit = ()
  override def charsAscii(src: Array[Byte], from: Int, until: Int): Unit = ()
  def tag(isStart: Boolean, name: String, selfClosing: Boolean, attrs: Vector[(String, String)]): Unit = ()
  def comment(data: String): Unit = ()
  def doctype(name: String, publicId: String, systemId: String, forceQuirks: Boolean): Unit = ()
  def eof(name: String, msg: String): Unit = ()
  def parseError(code: String): Unit = ()
}

/** The single-page layer arms, run per page inside one task: the core arms
  * (decode, tokenize) or the dom arm (`Extractor.extractInto`). Decode and
  * tokenize take the path `extractInto` takes for the page: byte mode exactly
  * for pure-ASCII bodies, otherwise the codepoint decode.
  */
object Arms {
  def run(partition: Int, it: Iterator[PageRow], dom: Boolean): ArmStats = {
    val t0 = System.nanoTime()
    val noop = new NoopSink
    val sink = new ExtractSink
    var buf = new Array[Int](8192)
    val hist = new Array[Long](Hist.size)
    var pages, bytes, bytePages, decodeNs, tokNs, extNs, exits, tokens, tags, errs = 0L

    def tokenize(tk: RefTokenizer): Unit = {
      val t = System.nanoTime()
      try tk.run()
      catch {
        case _: StepBudgetExceeded => exits += 1
        case _: VCastPanic => ()
      }
      tokNs += System.nanoTime() - t
    }
    def decodeThenTokenize(decode: => Array[Int]): Unit = {
      val t = System.nanoTime()
      val cps = decode
      decodeNs += System.nanoTime() - t
      tokenize(new RefTokenizer(cps, noop, specMode = true))
    }
    def core(html0: Array[Byte]): Unit = {
      val html =
        if (html0.length >= 3 && (html0(0) & 0xff) == 0xef && (html0(1) & 0xff) == 0xbb && (html0(2) & 0xff) == 0xbf)
          java.util.Arrays.copyOfRange(html0, 3, html0.length)
        else html0
      if ((html eq html0) && html.length >= 2 &&
        ((html(0) & 0xff) == 0xff && (html(1) & 0xff) == 0xfe || (html(0) & 0xff) == 0xfe && (html(1) & 0xff) == 0xff))
        decodeThenTokenize(CharsetSniff.decodeFallback(html))
      else {
        var i = 0
        while (i < html.length && html(i) >= 0) i += 1
        if (i == html.length) {
          bytePages += 1
          tokenize(new RefTokenizer(null, noop, specMode = true, binput = html))
        } else {
          if (buf.length < html.length) buf = new Array[Int](math.max(html.length, buf.length * 2))
          val t = System.nanoTime()
          val n = RefTokenizer.decodeUtf8Into(html, buf)
          if (n >= 0) {
            decodeNs += System.nanoTime() - t
            tokenize(new RefTokenizer(buf, noop, specMode = true, inputLenIn = n))
          } else {
            decodeNs += System.nanoTime() - t
            decodeThenTokenize {
              val fb = CharsetSniff.decodeFallback(html)
              if (fb != null) fb else RefTokenizer.decodeUtf8(html)
            }
          }
        }
      }
    }
    def extract(html: Array[Byte]): Unit = {
      val t = System.nanoTime()
      val r = Extractor.extractInto(html, sink)
      val dt = System.nanoTime() - t
      extNs += dt
      hist(Hist.bucket(dt)) += 1
      tokens += r.nTokens
      tags += r.nTags
      errs += r.nErrors
    }

    while (it.hasNext) {
      val html = it.next().html
      if (html != null) {
        pages += 1
        bytes += html.length
        if (dom) extract(html) else core(html)
      }
    }
    ArmStats(partition, t0, System.nanoTime(), pages, bytes, bytePages, decodeNs, tokNs, extNs,
      exits, tokens, tags, errs, hist)
  }
}
