package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one SparkSession factory every main uses, with the settings the
  * oracle gate runs under: shuffle partitions = cores, ANSI off (minhash
  * uses wrapping 64-bit arithmetic), UTC session time zone, no UI, the
  * `CALL`/view SQL extensions, log level ERROR.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` if set, else every core of this JVM's host. */
  def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  /** A master already in `conf` (`spark-submit --master`, `-Dspark.master`)
    * wins; otherwise `local[cpus]`. */
  def master(conf: SparkConf, cpus: Int): String =
    conf.getOption("spark.master").getOrElse(s"local[$cpus]")

  def apply(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(master(new SparkConf(), cpus))
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.sources.GraftSqlExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
