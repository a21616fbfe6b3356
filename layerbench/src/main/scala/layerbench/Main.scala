package layerbench

import graft.functions.HtmlKernelExpression
import graft.sources.{Warc, WarcSource}
import graft.spark.PageRow
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The layered extraction benchmark.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --cores <n> --work <dir> --out <file>
  * }}}
  *
  * Setup writes the workload's inputs from the seed, three times, each
  * followed by one warm-up pass. Then, for `--seconds`:
  *  - `--trace 0` repeats the timed pass (input scan → kernel → committed
  *    parquet output) and reports the end-to-end metrics;
  *  - `--trace 1` runs the layer passes and the single-page layer arms and
  *    reports the per-layer metrics, with spans and the page-latency
  *    histogram written next to the result.
  * The last output is checked against the generator's expectation before
  * the result is written.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, cores: Int,
      work: String, out: String)

  final case class Pass(kind: String, wallS: Double, tasks: Seq[TaskRec], gcMs: Long, jitMs: Long,
      classes: Long) {
    def execRunS: Double = tasks.map(_.runMs).sum / 1e3
    def execCpuS: Double = tasks.map(_.cpuNs).sum / 1e9
    def spill: Long = tasks.map(_.spillBytes).sum
    def skew: Double = {
      val d = tasks.map(_.runMs.toDouble).sorted
      if (d.isEmpty) 0.0 else d.last / math.max(median(d), 1.0)
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
  /** Half the range: the noise bound of a median of a few samples. */
  def halfRange(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else (xs.max - xs.min) / 2

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(req("workload"), req("seed").toLong, req("seconds").toInt, req("trace") == "1",
      req("cores").toInt, req("work"), req("out"))
    require(Workload.names.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds >= 1 && a.cores >= 1, "seconds and cores must be positive")
    a
  }

  def session(a: Args): SparkSession = SparkSession.builder()
    .master(s"local[${a.cores}]")
    .appName("layerbench")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", a.cores.toString)
    // one input split per file, like the one-partition-per-archive WARC
    // source: the open cost exceeds the largest split, so files never share
    .config("spark.sql.files.openCostInBytes", (128L << 20).toString)
    .config("spark.local.dir", s"${a.work}/spark-local")
    .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
    .getOrCreate()

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val ok = try { run(a); true } catch {
      case e: Throwable => e.printStackTrace(); false
    }
    SparkSession.getActiveSession.foreach(_.stop())
    System.exit(if (ok) 0 else 1)
  }

  def run(a: Args): Unit = {
    val tStart = System.nanoTime()
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadBefore = os.getSystemLoadAverage
    val trace = new Trace(s"${a.workload}-${a.seed}", a.trace)
    val t0 = System.nanoTime()
    val spark = session(a)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val sc = spark.sparkContext
    val probe = new Probe
    sc.addSparkListener(probe)
    val wl = Workload(a.workload, spark, s"${a.work}/data", a.seed, a.cores)
    val outDir = s"${a.work}/data/out"
    val passes = scala.collection.mutable.ArrayBuffer.empty[Pass]
    var passNo = 0

    def deleteOut(): Unit = {
      val p = new org.apache.hadoop.fs.Path(outDir)
      p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
    }
    def pass(kind: String, traced: Boolean = true, spanId: Long = trace.newId())(f: => Unit): Pass = {
      passNo += 1
      val g = s"$kind-$passNo"
      sc.setJobGroup(g, g)
      val gc0 = Jvm.gcMillis
      val jit0 = Jvm.jitMillis
      val cl0 = Jvm.classesLoaded
      val t = System.nanoTime()
      if (traced) trace(s"pass.$kind", spanId)(f) else f
      val wall = (System.nanoTime() - t) / 1e9
      val gc = Jvm.gcMillis - gc0
      val jit = Jvm.jitMillis - jit0
      sc.clearJobGroup()
      val p = Pass(kind, wall, probe.group(sc, g), gc, jit, Jvm.classesLoaded - cl0)
      passes += p
      p
    }
    def parquetPass(kind: String = "parquet", traced: Boolean = true): Pass = {
      deleteOut()
      pass(kind, traced)(wl.pipeline.write.parquet(outDir))
    }

    // ---- setup: inputs from the seed + one warm-up pass, three times
    val setups = (1 to 3).map { i =>
      trace(s"setup.$i") {
        val t = System.nanoTime()
        trace("setup.inputs")(wl.prepare())
        parquetPass("warmup")
        (System.nanoTime() - t) / 1e9
      }
    }
    val setupS = sessionS + median(setups)
    val firstPassS = passes.head.wallS
    val mib = wl.source.select(sum(length(col("html")))).collect()(0).getLong(0) / 1048576.0

    val deadline = System.nanoTime() + a.seconds * 1000000000L
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
    val flags = scala.collection.mutable.ArrayBuffer.empty[String]

    if (!a.trace) {
      // ---- end-to-end: timed passes until the time is up (at least three)
      val timed = scala.collection.mutable.ArrayBuffer.empty[Pass]
      val heap = scala.collection.mutable.ArrayBuffer.empty[Long]
      while (timed.length < 3 || System.nanoTime() < deadline) {
        timed += parquetPass()
        heap += Jvm.oldGenAfterGc()
      }
      val outBytes = parquetBytes(outDir)
      val chk = wl.check(outDir)
      put("throughput_mb_s", median(timed.map(p => mib / p.wallS).toSeq), "MiB/s")
      put("cpu_ms_per_mb", median(timed.map(p => p.execCpuS * 1e3 / mib).toSeq), "ms/MiB")
      put("setup_s", setupS, "s")
      put("heap_peak_mb", heap.max / 1048576.0, "MiB")
      put("output_bytes_per_input_byte", outBytes / (mib * 1048576.0), "ratio")
      put("ok_share", 1.0 - chk.failed.toDouble / math.max(chk.attempted, 1L), "ratio")
      finish(a, chk, metrics, passes.toSeq, flags.toSeq, setups, sessionS, mib, loadBefore, tStart)
      return
    }

    // ---- traced run: scan and WARC passes, pipeline-pass rounds, then the arms
    val scans = (1 to 2).map(_ => pass("scan")(wl.scanFrame.write.format("noop").mode("overwrite").save()))

    val warcParse: Seq[Double] = wl match {
      case w: WarcMixed =>
        val files = WarcSource.listFiles(w.warcDir).toSeq
        (1 to 2).map { _ =>
          var ns = 0.0
          pass("warc_parse") {
            ns = sc.parallelize(files, files.length).map { f =>
              val path = new org.apache.hadoop.fs.Path(f)
              val in = path.getFileSystem(new org.apache.hadoop.conf.Configuration()).open(path)
              try {
                val t = System.nanoTime()
                Warc.parseStream(Warc.decompress(in)).foreach(_ => ())
                System.nanoTime() - t
              } finally in.close()
            }.sum()
          }
          ns / 1e9
        }
      case _ => Seq(0.0)
    }

    val rounds = scala.collection.mutable.ArrayBuffer.empty[Map[String, Pass]]
    while (rounds.length < 2 || System.nanoTime() < deadline) {
      rounds += Map(
        "count" -> pass("count")(wl.pipeline.count()),
        "noop" -> pass("noop")(wl.pipeline.write.format("noop").mode("overwrite").save()),
        "parquet" -> parquetPass(),
        "untraced" -> parquetPass("parquet_untraced", traced = false))
    }
    // The dom arm (extractInto) and the core arms (decode, tokenize) run in
    // passes of their own, after the pipeline passes: the no-op sink gives
    // the tokenizer a second sink type, which the JIT then has to compile
    // for, so the core arms go last. Each arm gets one untimed round first.
    def armPass(kind: String, dom: Boolean): Seq[ArmStats] = {
      val acc = sc.collectionAccumulator[ArmStats](kind)
      val span = trace.newId()
      pass(kind, spanId = span) {
        wl.source.foreachPartition { (it: Iterator[PageRow]) =>
          acc.add(Arms.run(org.apache.spark.TaskContext.getPartitionId(), it, dom))
        }
      }
      val parts = acc.value.asScala.toSeq
      parts.foreach(s => trace.add(Span(trace.newId(), span, s"$kind.partition.${s.partition}", s.startNs, s.endNs, trace.run)))
      parts
    }
    val domRounds = (0 to 2).map(_ => armPass("arms.dom", dom = true)).tail
    val coreRounds = (0 to 2).map(_ => armPass("arms.core", dom = false)).tail
    val armRounds = coreRounds.zip(domRounds)
    def armS(f: ArmStats => Long): Seq[Double] =
      armRounds.map { case (c, d) => (c.map(f).sum + d.map(f).sum) / 1e9 }
    val decode = armS(_.decodeNs)
    val tokenize = armS(_.tokenizeNs)
    val extract = armS(_.extractNs)
    val lastArm = armRounds.last._1 ++ armRounds.last._2

    def walls(k: String) = rounds.map(_(k).wallS).toSeq
    def execs(k: String) = rounds.map(_(k).execRunS).toSeq
    val chk = trace("check")(wl.check(outDir))

    // kernel expressions per row, counted in the optimized plan of the SQL query
    val callsPerRow = SqlExtract.plan(wl.source).queryExecution.optimizedPlan
      .map(_.expressions.map(_.collect { case k: HtmlKernelExpression => k }.size).sum).sum
    val kernelCalls = if (wl.countRunsKernel) 1 else callsPerRow

    val pages = armRounds.last._2.map(_.pages).sum
    val hist = Hist.merge(lastArm.map(_.hist))
    val scanExec = median(scans.map(_.execRunS))
    val extractS = median(extract)
    val decodeS = median(decode)
    val tokenizeS = median(tokenize)
    val par = rounds.map(_("parquet")).toSeq
    val noiseArms = halfRange(decode) + halfRange(tokenize) + halfRange(extract)

    put("sources.scan_s", median(scans.map(_.wallS)), "s")
    put("sources.self_s", scanExec, "s")
    put("sources.warc_parse_s", median(warcParse), "s")
    put("sources.charset_records", wl.charsetRecords.toDouble, "count")
    put("core.decode_s", decodeS, "s")
    put("core.tokenize_s", tokenizeS, "s")
    put("core.tokenize_mb_s", mib / tokenizeS, "MiB/s")
    put("core.self_s", decodeS + tokenizeS, "s")
    put("core.byte_mode_share", lastArm.map(_.bytePages).sum.toDouble / math.max(pages, 1L), "ratio")
    put("core.step_budget_exits", lastArm.map(_.stepExits).sum.toDouble, "count")
    put("dom.extract_s", extractS, "s")
    val domSelf = extractS - tokenizeS - decodeS
    put("dom.self_s", domSelf, "s")
    if (domSelf < -noiseArms) flags += f"dom.self_s=$domSelf%.4f below -$noiseArms%.4f"
    put("dom.page_p50_us", Hist.quantile(hist, 0.5) / 1e3, "us")
    val tailPct = Hist.tailPct(hist.sum)
    put("dom.page_tail_us", Hist.quantile(hist, tailPct / 100) / 1e3, "us")
    put("dom.page_tail_pct", tailPct, "%")
    put("dom.tokens", lastArm.map(_.tokens).sum.toDouble, "count")
    put("dom.tags", lastArm.map(_.tags).sum.toDouble, "count")
    put("dom.parse_errors", lastArm.map(_.parseErrors).sum.toDouble, "count")

    val countS = median(walls("count"))
    val noopS = median(walls("noop"))
    val parquetS = median(walls("parquet"))
    put("spark.count_s", countS, "s")
    put("spark.noop_s", noopS, "s")
    put("spark.parquet_s", parquetS, "s")
    val encodeS = noopS - countS
    val sinkS = parquetS - noopS
    put("spark.encode_s", encodeS, "s")
    put("spark.sink_s", sinkS, "s")
    val encNoise = halfRange(walls("noop")) + halfRange(walls("count"))
    val sinkNoise = halfRange(walls("parquet")) + halfRange(walls("noop"))
    if (encodeS < -encNoise) flags += f"spark.encode_s=$encodeS%.4f below -$encNoise%.4f"
    if (sinkS < -sinkNoise) flags += f"spark.sink_s=$sinkS%.4f below -$sinkNoise%.4f"
    put("spark.executor_run_s", median(par.map(_.execRunS)), "s")
    put("spark.executor_cpu_s", median(par.map(_.execCpuS)), "s")
    put("spark.gc_s", median(par.map(_.gcMs / 1e3)), "s")
    put("spark.jit_ms", median(par.map(_.jitMs.toDouble)), "ms")
    put("spark.spill_bytes", median(par.map(_.spill.toDouble)), "bytes")
    put("spark.tasks", median(par.map(_.tasks.length.toDouble)), "count")
    put("spark.task_skew", median(par.map(_.skew)), "ratio")
    put("spark.first_pass_ratio", firstPassS / parquetS, "ratio")

    // Executor time of the parquet pass, split by layer: the scan pass, the
    // kernel arms, row encoding (noop − count) and the sink (parquet − noop).
    // What none of them covers is unattributed. On the SQL path a count()
    // prunes the kernel and the scan, so encoding is not measured there and
    // the unattributed part is the expression layer's own time.
    val sink = median(execs("parquet")) - median(execs("noop"))
    val enc = if (wl.countRunsKernel) median(execs("noop")) - median(execs("count")) else 0.0
    val parExec = median(execs("parquet"))
    val unattributed = parExec - scanExec - kernelCalls * extractS - enc - sink
    val execNoise = Seq("count", "noop", "parquet").map(k => halfRange(execs(k))).sum +
      halfRange(scans.map(_.execRunS)) + noiseArms
    put("spark.self_s", enc + sink, "s")
    put("functions.kernel_calls_per_row", callsPerRow.toDouble, "count")
    put("functions.sql_s", if (wl.isInstanceOf[SqlExtract]) parquetS else 0.0, "s")
    put("functions.self_s", if (wl.countRunsKernel) 0.0 else unattributed, "s")
    if (unattributed < -execNoise) flags += f"unattributed=$unattributed%.4f below -$execNoise%.4f"
    put("trace.unattributed_share", unattributed / parExec, "ratio")
    val untraced = median(walls("untraced"))
    put("trace.overhead_share", (parquetS - untraced) / untraced, "ratio")
    put("trace.negative_self_flags", flags.length.toDouble, "count")

    trace.add(Span(0L, -1L, "run", tStart, System.nanoTime(), trace.run))
    writeTrace(a, trace, hist)
    finish(a, chk, metrics, passes.toSeq, flags.toSeq, setups, sessionS, mib, loadBefore, tStart)
  }

  /** Bytes of the parquet part files of one output. */
  def parquetBytes(dir: String): Long =
    Files.list(Paths.get(dir)).iterator.asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet")).map(p => Files.size(p)).sum

  def writeTrace(a: Args, trace: Trace, hist: Array[Long]): Unit = {
    val spans = trace.withSelf.map { case (s, self) =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "self_ns" -> self, "run" -> s.run)
    }
    Files.write(Paths.get(a.out + ".spans.jsonl"), spans.map(_.text).mkString("", "\n", "\n").getBytes(UTF_8))
    val buckets = hist.indices.filter(hist(_) > 0).map(i => Json.obj("le_ns" -> Hist.upper(i), "n" -> hist(i)))
    Files.write(Paths.get(a.out + ".hist.json"),
      Json.obj("name" -> "dom.page_extract_ns", "buckets" -> Json.arr(buckets: _*)).text.getBytes(UTF_8))
  }

  def finish(a: Args, chk: Check, metrics: collection.Map[String, (Double, String)], passes: Seq[Pass],
      flags: Seq[String], setups: Seq[Double], sessionS: Double, mib: Double,
      loadBefore: Double, tStart: Long): Unit = {
    val rt = Runtime.getRuntime
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val timed = passes.filter(_.kind == "parquet")
    val walls = timed.map(_.wallS)
    val thr = median(walls.map(mib / _))
    val host = Json.obj(
      "nproc" -> a.cores,
      "load_before" -> loadBefore,
      "load_after" -> os.getSystemLoadAverage,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "gc" -> Jvm.gcNames,
      "max_heap_mb" -> rt.maxMemory / 1048576.0,
      "input_mib" -> mib,
      "pass_count" -> timed.length,
      "pass_spread" -> (if (walls.isEmpty) 0.0 else walls.max / walls.min),
      "per_core_mb_s" -> thr / a.cores,
      "session_s" -> sessionS,
      "setup_reps_s" -> Json.arr(setups: _*),
      "run_s" -> (System.nanoTime() - tStart) / 1e9)
    val passJson = passes.map(p => Json.obj("kind" -> p.kind, "wall_s" -> p.wallS, "gc_ms" -> p.gcMs,
      "jit_ms" -> p.jitMs, "classes_loaded" -> p.classes, "spill_bytes" -> p.spill, "executor_cpu_s" -> p.execCpuS,
      "executor_run_s" -> p.execRunS, "tasks" -> p.tasks.length))
    val m = metrics.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) }.toSeq
    val doc = Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> (if (a.trace) 1 else 0),
      "correct" -> (chk.failed == 0 && chk.extra == 0 && chk.attempted > 0),
      "attempted" -> chk.attempted, "failed" -> chk.failed, "extra_rows" -> chk.extra,
      "metrics" -> Json.obj(m: _*), "flags" -> Json.arr(flags: _*),
      "host" -> host, "passes" -> Json.arr(passJson: _*))
    Files.write(Paths.get(a.out), doc.text.getBytes(UTF_8))
  }
}

/** Minimal JSON text builder. */
object Json {
  /** Already-encoded JSON text. */
  final case class Raw(text: String) { override def toString: String = text }
  def obj(kv: (String, Any)*): Raw = Raw(kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}"))
  def arr(vs: Any*): Raw = Raw(vs.map(value).mkString("[", ",", "]"))
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }
  private def value(v: Any): String = v match {
    case r: Raw => r.text
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case other => str(String.valueOf(other))
  }
}
