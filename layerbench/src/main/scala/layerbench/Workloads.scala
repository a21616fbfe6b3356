package layerbench

import graft.functions.HtmlFunctions
import graft.sources.Warc
import graft.spark.{ExtractJob, PageRow, Pages}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Outcome of the untimed output check. */
final case class Check(attempted: Long, failed: Long, extra: Long)

/** One benchmark workload: the inputs setup writes, the scan the program
  * reads them with, the timed pipeline, and the output check.
  */
abstract class Workload(val spark: SparkSession, val dir: String, val seed: Long, val cores: Int) {
  import spark.implicits._

  /** Documents, one page each: distinct texts, so the output compresses
    * like a crawl's and not like repeated variants of a few documents.
    */
  val docCount = 14000
  def docsDir = s"$dir/docs"

  def writeDocs(): Unit =
    spark.createDataset(Inputs.docs(seed, docCount)).repartition(1)
      .write.mode("overwrite").parquet(s"$docsDir/documents.parquet")

  /** Writes every input from the seed (overwriting earlier ones). */
  def prepare(): Unit
  /** The input scan, as the program reads it. */
  def source: Dataset[PageRow]
  /** The scan alone, reading the columns the pipeline reads. */
  def scanFrame: DataFrame = source.toDF()
  /** Scan → kernel: the frame each timed pass sinks. */
  def pipeline: DataFrame
  /** Whether `pipeline.count()` still runs the kernel. A typed
    * mapPartitions is opaque to the optimizer; SQL projections of
    * deterministic expressions are pruned away under a count.
    */
  def countRunsKernel: Boolean = true
  /** (url, exp_main) and, when titles are checked, exp_title. */
  def expected: DataFrame
  /** Input records not both declared and encoded as UTF-8. */
  def charsetRecords: Long = 0L

  /** Row-level comparison of one pass's output against the expectation,
    * as a single Spark aggregate.
    */
  def check(outDir: String): Check = {
    val out = spark.read.parquet(outDir)
    val exp = expected
    val errorRow =
      if (out.columns.contains("errors"))
        expr("exists(o.errors, e -> e IN ('NULL_HTML', 'TASK_BYTE_CAP', 'STEP_BUDGET_EXCEEDED', 'V_CAST_PANIC'))")
      else lit(false)
    val titleBad =
      if (exp.columns.contains("exp_title")) not(col("o.title") <=> col("x.exp_title")) else lit(false)
    val bad = col("o.url").isNull || errorRow || not(col("o.main_text") <=> col("x.exp_main")) || titleBad
    val r = exp.as("x").join(out.as("o"), col("x.url") === col("o.url"), "full_outer")
      .agg(
        count(col("x.url")).as("attempted"),
        sum(when(col("x.url").isNotNull && bad, 1).otherwise(0)).as("failed"),
        sum(when(col("x.url").isNull, 1).otherwise(0)).as("extra"))
      .collect()(0)
    Check(r.getLong(0), r.getLong(1), r.getLong(2))
  }
}

/** ASCII pages from `Pages.synthesize` in a parquet pages table, read
  * through the SQL surface.
  */
class SqlExtract(spark: SparkSession, dir: String, seed: Long, cores: Int)
    extends Workload(spark, dir, seed, cores) {
  import spark.implicits._
  def pagesDir = s"$dir/pages"

  def prepare(): Unit = {
    writeDocs()
    Pages.synthesize(spark, docsDir, 1, 4 * cores)
      .write.mode("overwrite").parquet(pagesDir)
  }
  def source: Dataset[PageRow] = spark.read.parquet(pagesDir).as[PageRow]
  def pipeline: DataFrame = SqlExtract.plan(source)
  override def scanFrame: DataFrame = source.select("url", "html")
  override def countRunsKernel: Boolean = false
  // the Pages contract: main_text is exactly the document text, and the
  // title "Doc <doc_id> - <source>", both of which are in the url
  def expected: DataFrame = spark.read.parquet(pagesDir).select(col("url"), col("text").as("exp_main"))
    .withColumn("exp_title", concat(lit("Doc "), regexp_extract(col("url"), "/doc([0-9]+)/v", 1), lit(" - "),
      regexp_extract(col("url"), "^https://example.com/[^/]+/([^/]+)/", 1)))
}

object SqlExtract {
  /** The SQL pass over `pages`, after `HtmlFunctions.register` and `registerRule`. */
  def plan(pages: Dataset[PageRow]): DataFrame = {
    HtmlFunctions.register(pages.sparkSession)
    HtmlFunctions.registerRule(pages.sparkSession)
    pages.createOrReplaceTempView("pages")
    pages.sparkSession.sql("SELECT url, html_main_text(html) AS main_text, html_title(html) AS title FROM pages")
  }
}

/** Mixed-script, mixed-charset pages in gzip WARC archives. */
class WarcMixed(spark: SparkSession, dir: String, seed: Long, cores: Int)
    extends Workload(spark, dir, seed, cores) {
  import spark.implicits._
  def warcDir = s"$dir/warc"
  def expectedDir = s"$dir/expected"

  private def records: Dataset[MixedRec] = {
    val s = seed
    spark.read.parquet(s"$docsDir/documents.parquet").as[Doc].repartition(4 * cores)
      .map(d => Inputs.mixedRecord(s, d, 0))
  }

  def prepare(): Unit = {
    writeDocs()
    val recs = records.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    Warc.writeRecords(recs.map(r => Warc.WarcRec(r.url, r.ts_millis, r.block)), warcDir, gzip = true)
    recs.select(col("url"), col("expected_main").as("exp_main"), col("charset_mode"))
      .write.mode("overwrite").parquet(expectedDir)
    recs.unpersist(blocking = true)
  }
  def source: Dataset[PageRow] = Warc.read(spark, warcDir)
  def pipeline: DataFrame = ExtractJob.extract(source, "layerbench", cores).toDF()
  def expected: DataFrame = spark.read.parquet(expectedDir).select("url", "exp_main")
  override def charsetRecords: Long = {
    val modes = spark.read.parquet(expectedDir).select("charset_mode").as[String]
    modes.filter(m => Inputs.isCharsetRecord(m)).count()
  }
}

object Workload {
  val names = Seq("warc-mixed", "sql-extract")
  def apply(name: String, spark: SparkSession, dir: String, seed: Long, cores: Int): Workload = name match {
    case "warc-mixed" => new WarcMixed(spark, dir, seed, cores)
    case "sql-extract" => new SqlExtract(spark, dir, seed, cores)
  }
}
