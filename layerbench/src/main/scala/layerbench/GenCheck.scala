package layerbench

import graft.dom.Extractor
import graft.sources.Warc
import org.apache.spark.sql.SparkSession

/** Checks the mixed-charset generator against the program's own extractor
  * on a given documents table: every record is serialized, parsed back with
  * `Warc.parse` (charset normalization included) and extracted with
  * `Extractor.extract`; the main text must equal the generator's
  * expectation.
  *
  * {{{
  * GenCheck <documents.parquet> <seed> <variants>
  * }}}
  * Prints one summary line and exits 1 on any mismatch.
  */
object GenCheck {
  def main(args: Array[String]): Unit = {
    val Array(path, seedS, variantsS) = args
    val spark = SparkSession.builder().master("local[1]").config("spark.ui.enabled", "false").getOrCreate()
    import spark.implicits._
    val docs = spark.read.parquet(path).select("doc_id", "text", "lang", "source", "n_chars").as[Doc].collect()
    spark.stop()
    var n, bad = 0L
    val modes = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    for (d <- docs; v <- 0 until variantsS.toInt) {
      val r = Inputs.mixedRecord(seedS.toLong, d, v)
      val page = Warc.parse(Warc.recordBlock(r.url, r.ts_millis, r.block)).next()
      val got = Extractor.extract(page.html).mainText
      n += 1
      modes(r.charset_mode) += 1
      if (got != r.expected_main) {
        bad += 1
        if (bad <= 3) {
          val i0 = got.zip(r.expected_main).indexWhere { case (x, y) => x != y }
          val i = if (i0 < 0) math.min(got.length, r.expected_main.length) else i0
          def esc(s: String) = s.slice(math.max(i, 0) - 10, math.max(i, 0) + 20).flatMap(c =>
            if (c < 0x80) c.toString else f"\\u${c.toInt}%04x")
          System.err.println(s"MISMATCH ${r.url} ${r.charset_mode} at $i (lengths ${r.expected_main.length}/${got.length})\n  want: ${esc(r.expected_main)}\n  got:  ${esc(got)}")
        }
      }
    }
    println(s"gencheck records=$n mismatches=$bad modes=${modes.toSeq.sorted.mkString(",")}")
    System.exit(if (bad == 0 && n > 0) 0 else 1)
  }
}
