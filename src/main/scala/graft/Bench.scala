package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

/** Benchmark main (driver contract): runs the headline extraction-throughput
  * measurement plus every SparkEntry query on SPARK_GRAFT_SF_DIR, prints ONE
  * JSON line. Headline = docs/sec and MB/sec of html bytes through the full
  * tokenizer+DOM+boilerplate kernel (pages pre-materialized so synthesis is
  * excluded from the timed section).
  */
object Bench {

  /** Timed extraction pass over pre-materialized pages: (docs, bytes, sec). */
  def extractOnce(spark: SparkSession, pages: org.apache.spark.sql.Dataset[graft.spark.PageRow], parts: Int): (Long, Double) = {
    val t0 = System.nanoTime()
    val n = graft.spark.ExtractJob.extract(pages, "bench", parts).toDF().count()
    (n, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.defaultCpus
    val variants = sys.env.getOrElse("SPARK_GRAFT_VARIANTS", "100").toInt
    val spark = GraftSession(cpus)

    // ---- headline: extraction throughput --------------------------------
    val pages = graft.spark.Pages.synthesize(spark, sfDir, variants)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val bytes = pages.toDF().selectExpr("sum(length(html))").collect()(0).getLong(0)
    val mb = bytes / 1048576.0
    // Warm-up (JIT the kernel), then best-of-3 timed passes: this host shows
    // multi-minute contention windows that can slow one pass 2-7x, and the
    // driver compares BENCH_rN across rounds — a single-pass headline is
    // noise (round-1 driver run read 41 MB/s where a quiet JVM does ~1 GB/s).
    // ALL pass times are emitted (extract_passes / query_passes) plus a
    // contention_spread = slowest/fastest extraction pass, so a cross-round
    // reader can discount a contended window instead of reading a phantom
    // regression.
    extractOnce(spark, pages, cpus)
    val extractPasses = (1 to 3).map(_ => extractOnce(spark, pages, cpus))
    val (docs, sec) = extractPasses.minBy(_._2)
    val spread = extractPasses.map(_._2).max / sec
    pages.unpersist()

    // ---- per-query timings (2 passes each, min reported in `queries` —
    // same contention rationale; a crashing query is surfaced in `errors`
    // with value -1, never silently timed as if it ran) -------------------
    def jesc(s: String): String =
      s.replace("\\", "\\\\").replace("\"", "'").replace("\n", " ").replace("\r", " ")
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      def once(): (Double, String) = {
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); ((System.nanoTime() - t0) / 1e9, null) }
        catch {
          case e: Throwable =>
            ((System.nanoTime() - t0) / 1e9,
              e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).take(120))
        }
      }
      (name, once(), once())
    }
    val qs = results.map { case (k, p1, p2) =>
      val ok = Seq(p1, p2).filter(_._2 == null).map(_._1)
      "\"" + k + f"""\":${if (ok.nonEmpty) ok.min else -1.0}%.3f"""
    }.mkString("{", ",", "}")
    val qPasses = results.map { case (k, p1, p2) =>
      "\"" + k + f"""\":[${p1._1}%.3f,${p2._1}%.3f]"""
    }.mkString("{", ",", "}")
    val errs = results.flatMap { case (k, p1, p2) =>
      val e = if (p1._2 != null) p1._2 else p2._2
      if (e != null) Some("\"" + k + "\":\"" + jesc(e) + "\"") else None
    }.mkString("{", ",", "}")
    val total = results.map { case (_, p1, p2) =>
      val ok = Seq(p1, p2).filter(_._2 == null).map(_._1)
      if (ok.nonEmpty) ok.min else 0.0
    }.sum + sec
    val ep = extractPasses.map(p => f"${p._2}%.3f").mkString("[", ",", "]")
    println(
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"query_passes":$qPasses,"errors":$errs,"sf":"$sfDir","extract":{"docs":$docs,"mb":$mb%.1f,"sec":$sec%.3f,"docs_per_sec":${docs / sec}%.1f,"mb_per_sec":${mb / sec}%.2f,"passes":$ep,"contention_spread":$spread%.2f},"cpus":$cpus,"variants":$variants}""")
    spark.stop()
  }
}

/** Scaling-evidence main (north rule: throughput at two cluster sizes with
  * efficiency ≥ 0.8). No real cluster exists in the sandbox, so the same job
  * runs at local[8] and local[32] on the same input — the driver-sanctioned
  * stand-in for N vs 4N executors. Prints one JSON line and leaves the
  * numbers for BASELINE.md.
  */
object Scale {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val variants = sys.env.getOrElse("SPARK_GRAFT_VARIANTS", "100").toInt

    def measure(cpus: Int): (Long, Double, Double) = {
      val spark = GraftSession(cpus)
      val pages = graft.spark.Pages.synthesize(spark, sfDir, variants)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val bytes = pages.toDF().selectExpr("sum(length(html))").collect()(0).getLong(0)
      Bench.extractOnce(spark, pages, cpus) // warm-up
      val sec = (1 to 3).map(_ => Bench.extractOnce(spark, pages, cpus)._2).min
      val docs = pages.count()
      pages.unpersist()
      spark.stop()
      (docs, bytes / 1048576.0, sec)
    }

    // Interleaved lo/hi sessions with per-level minima: a transient
    // host-contention window biases at most one sample, not the ratio.

    val nLo = sys.env.getOrElse("SPARK_GRAFT_NLO", "8").toInt
    val nHi = sys.env.getOrElse("SPARK_GRAFT_NHI", "32").toInt
    val ratio = nHi.toDouble / nLo
    val rounds = sys.env.getOrElse("SPARK_GRAFT_ROUNDS", "2").toInt
    val samples = (1 to rounds).flatMap(_ => Seq(nLo -> measure(nLo), nHi -> measure(nHi)))
    val (docsLo, mbLo, secLo) = samples.filter(_._1 == nLo).map(_._2).minBy(_._3)
    val (docsHi, mbHi, secHi) = samples.filter(_._1 == nHi).map(_._2).minBy(_._3)
    val thrLo = mbLo / secLo
    val thrHi = mbHi / secHi
    val eff = (thrHi / thrLo) / ratio
    println(
      f"""{"metric":"scaling_efficiency","value":$eff%.3f,"unit":"ratio","n_lo":$nLo,"n_hi":$nHi,"lo":{"docs":$docsLo,"mb":$mbLo%.1f,"sec":$secLo%.3f,"mb_per_sec":$thrLo%.2f},"hi":{"docs":$docsHi,"mb":$mbHi%.1f,"sec":$secHi%.3f,"mb_per_sec":$thrHi%.2f},"sf":"$sfDir","variants":$variants}""")
  }
}
