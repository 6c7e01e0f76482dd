package pipebench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.config.{ConfigLoader, GeneralConfig}
import graft.expr.RuleParser
import graft.io.SparkIO
import graft.service.{BuiltinTransformations, Pipeline}
import graft.stages.{Inspect, Transforms, Validation}

/** One benchmark JVM.
  *
  *   pipebench.Main run <workload> <workdir> <seconds> <trace 0|1>
  *
  * The workdir already holds the inputs pipebench/gen.py wrote. `run` times `runPipeline`
  * on them: one cold call, then warm calls for `seconds`, checking every
  * output; with trace 1 it adds one traced call and a replay of the public
  * stage functions. Both print `READY <epoch ms>` once the SparkSession is
  * up; `run` ends with one `RESULT <json>` line. */
object Main {
  val Cores = 4

  def session(dir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("pipebench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/tmp")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val Array(mode, workload, dir) = args.take(3)
    require(Workloads.Names.contains(workload), s"unknown workload '$workload'")
    val spark = session(dir)
    println(s"READY ${System.currentTimeMillis()}")
    try mode match {
      case "run" =>
        val r = new Runner(spark, workload, dir, args(3).toDouble, args(4) == "1")
        println("RESULT " + Json.obj(r.run()))
      case other => throw new IllegalArgumentException(s"unknown mode '$other'")
    } finally spark.stop()
    System.out.flush()
  }
}

/** Minimal JSON writer for flat result maps. */
object Json {
  def value(v: Any): String = v match {
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double => d.toString
    case n: Long => n.toString
    case n: Int => n.toString
    case b: Boolean => b.toString
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n") + "\""
    case m: Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
  }
  def obj(m: Iterable[(String, Any)]): String =
    m.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}

final class Runner(spark: SparkSession, workload: String, dir: String, seconds: Double,
    trace: Boolean) {
  import Workloads._

  /** Warm calls per run at least, whatever `seconds` says. */
  private val MinWarm = 2

  private val facts: Map[String, Long] = {
    val p = new java.util.Properties
    val in = new java.io.FileInputStream(s"$dir/facts.properties")
    try p.load(in) finally in.close()
    import scala.jdk.CollectionConverters._
    p.asScala.map { case (k, v) => k -> v.toLong }.toMap
  }
  private val incremental = workload == "incremental_batches"
  private val yaml = workload match {
    case "curation_docs" => curationYaml(dir)
    case "tabular_etl" => tabularYaml(dir)
    case "incremental_batches" => batchesYaml(dir)
  }
  private lazy val batchRows: Long = facts("batch_rows")
  private val problems = ArrayBuffer.empty[String]
  private val checksums = ArrayBuffer.empty[(Int, String)]
  private var landed = 0

  private def log(msg: String): Unit = System.err.println(s"[pipebench] $msg")

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  // ------------------------------------------------------------ inputs

  /** Moves batch `b`'s files into the source directory (incremental only). */
  private def land(b: Int): Seq[File] = {
    val staged = batchFiles(dir, b, facts("batch_files").toInt)
    new File(s"$dir/src").mkdirs()
    val moved = staged.map { f =>
      val to = new File(f"$dir/src/b$b%03d-${f.getName}")
      Files.move(f.toPath, to.toPath, StandardCopyOption.ATOMIC_MOVE)
      to
    }
    landed += 1
    moved
  }

  private lazy val srcBytes: Long = dataFiles(new File(s"$dir/src")).map(_.length).sum

  /** Expected counts, recomputed in plain Spark SQL from the source files
    * (and compared with the generator's own count) before timing starts. */
  private lazy val expectedInvalid: Long = workload match {
    case "curation_docs" =>
      spark.read.parquet(s"$dir/src").filter(col("text").isNull).count()
    case "tabular_etl" =>
      spark.read.parquet(s"$dir/src")
        .filter(col("cust_key").isNull || col("amount") < 0).count()
    case _ => -1L
  }

  private lazy val expectedTransformed: Long =
    spark.read.parquet(s"$dir/src")
      .filter(col("cust_key").isNotNull && (col("amount").isNull || col("amount") >= 0) &&
        col("score") <= 95)
      .select("id").distinct().count()

  private lazy val validDocIds: Set[Long] =
    spark.read.parquet(s"$dir/src").filter(col("text").isNotNull).select("doc_id")
      .collect().map(_.getLong(0)).toSet

  /** doc id -> its planted near-dup cluster (generator truth). */
  private lazy val clusterOf: Map[Long, Long] =
    spark.read.parquet(s"$dir/truth_clusters").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def expect(ok: Boolean, what: => String): Unit = if (!ok) problems += what

  /** Checks one run's artifacts; returns whether every check passed. */
  private def check(k: Int, res: Pipeline.PipelineResult): Boolean = {
    val before = problems.size
    try {
      val out = res.outputRoot
      val errors = readOrEmpty(spark, s"$out/error_records").map(_.count()).getOrElse(0L)
      val sum = checksum(spark.read.parquet(s"$out/transformed_data"))
      val n = sum.split('|')(1).toLong
      workload match {
        case "curation_docs" =>
          expect(errors == expectedInvalid && errors == facts("invalid"),
            s"run $k: $errors error records, expected $expectedInvalid")
          val ids = spark.read.parquet(s"$out/transformed_data").select("doc_id").collect()
            .map(_.getLong(0))
          expect(ids.distinct.length == ids.length, s"run $k: duplicate survivor ids")
          expect(ids.forall(validDocIds), s"run $k: a survivor is not a valid doc id")
          val multi = ids.flatMap(clusterOf.get).groupBy(identity).count(_._2.length > 1)
          expect(multi == 0, s"run $k: $multi near-dup clusters kept more than one doc")
        case "tabular_etl" =>
          expect(errors == expectedInvalid && errors == facts("invalid"),
            s"run $k: $errors error records, expected $expectedInvalid")
          expect(n == expectedTransformed && n == facts("expected_transformed"),
            s"run $k: $n transformed rows, expected $expectedTransformed")
        case "incremental_batches" =>
          val batch = spark.read.parquet(
            dataFiles(new File(s"$dir/src")).filter(_.getName.startsWith(f"b$k%03d-"))
              .map(_.getPath): _*)
          val inv = batch.filter(col("cust_key").isNull || col("amount") < 0).count()
          expect(errors == inv && inv == facts(f"invalid_b$k%03d"),
            s"batch $k: $errors error records, expected $inv")
          expect(n == batchRows - inv,
            s"batch $k: transformed rows != ${batchRows - inv}")
      }
      checksums += ((k, sum))
    } catch {
      case e: Exception => problems += s"run $k: check threw ${e.getClass.getSimpleName}: ${e.getMessage}"
    }
    problems.size == before
  }

  /** End-of-run incremental checks: every landed row appears exactly once
    * across all batch outputs, and every landed file once in the manifest. */
  private def checkIncrementalHistory(dst: String): Unit = try {
    val runs = Option(new File(dst).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && !f.getName.startsWith("_"))
    val ids = runs.flatMap { r =>
      Seq(s"${r.getPath}/transformed_data", s"${r.getPath}/error_records")
        .flatMap(readOrEmpty(spark, _)).map(_.select("id"))
    }.reduce(_.unionByName(_))
    val src = spark.read.parquet(s"$dir/src").select("id")
    val n = ids.count()
    expect(n == landed.toLong * batchRows && ids.distinct().count() == n &&
      src.join(ids, Seq("id"), "left_anti").isEmpty,
      s"incremental outputs hold $n rows for ${landed * batchRows} landed, not exactly once")
    val manifest = spark.read.parquet(s"$dst/_manifest").select("src_file").collect()
      .map(r => new File(new java.net.URI(r.getString(0)).getPath).getName)
    val files = dataFiles(new File(s"$dir/src")).map(_.getName)
    expect(manifest.sorted.toSeq == files.sorted,
      s"manifest lists ${manifest.length} files for ${files.size} landed")
  } catch {
    case e: Exception => problems += s"history check threw ${e.getClass.getSimpleName}: ${e.getMessage}"
  }

  // --------------------------------------------------------------- runs

  private final case class Timed(wall: Double, res: Pipeline.PipelineResult, outBytes: Long,
      inBytes: Long)

  private def outBytes(res: Pipeline.PipelineResult, dst: String): Long = {
    val manifest = Option(new File(s"$dst/_manifest").listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(s"_${res.guid}"))
    dirBytes(new File(res.outputRoot)) + manifest.map(dirBytes).sum
  }

  private def untraced(yamlText: String, in: Long): Timed = {
    val t0 = System.nanoTime()
    val cfg = ConfigLoader.fromYaml(yamlText)
    val res = Pipeline.runPipeline(spark, cfg, new SparkIO)
    val wall = secs(t0)
    Timed(wall, res, outBytes(res, cfg.dstRoot), in)
  }

  /** Lands the next batch (incremental) and returns the source bytes the
    * coming run reads. */
  private def prepare(): Long =
    if (incremental) land(landed).map(_.length).sum else srcBytes

  private def cleanup(res: Pipeline.PipelineResult): Unit =
    if (!incremental) deleteTree(new File(res.outputRoot))

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  def run(): Map[String, Any] = {
    val hostStart = graft.util.HostStat.snapshot()
    workload match { // the expectations are computed before any timing
      case "curation_docs" => expectedInvalid; validDocIds; clusterOf
      case "tabular_etl" => expectedInvalid; expectedTransformed
      case _ =>
    }
    var attempted = 0
    var failed = 0
    def one(yamlText: String): Option[Timed] = {
      attempted += 1
      val k = attempted - 1
      try {
        val in = prepare()
        if (k > 0) System.gc() // a warm call does not pay for the last one's garbage
        val t = untraced(yamlText, in)
        val c0 = System.nanoTime()
        if (!check(if (incremental) landed - 1 else k, t.res)) failed += 1
        log(f"run $k: ${t.wall}%.3f s, checks ${secs(c0)}%.3f s")
        Some(t)
      } catch {
        case NonFatal(e) =>
          failed += 1
          problems += s"run $k threw ${e.getClass.getSimpleName}: ${e.getMessage}"
          None
      }
    }
    val cold = one(yaml)
    cold.foreach(t => cleanup(t.res))
    val warm = ArrayBuffer.empty[Timed]
    val maxWarm = if (incremental) facts("batches").toInt - 3 else Int.MaxValue
    val t0 = System.nanoTime()
    var ok = cold.nonEmpty
    while (ok && (warm.size < MinWarm || secs(t0) < seconds) && warm.size < maxWarm)
      one(yaml) match {
        case Some(t) => warm += t; cleanup(t.res)
        case None => ok = false
      }
    val runS = median(warm.map(_.wall).toSeq)
    val rows = if (incremental) batchRows.toLong else facts("rows")
    val metrics = scala.collection.mutable.LinkedHashMap[String, Any](
      "run_s" -> runS,
      "run_n" -> warm.size,
      "warm_s" -> warm.map(_.wall).toSeq,
      "rows_per_s" -> rows / runS,
      "cold_run_s" -> cold.map(_.wall).getOrElse(Double.NaN),
      "out_bytes_per_in_byte" -> median(warm.map(t => t.outBytes.toDouble / t.inBytes).toSeq))
    if (trace && ok) metrics ++= traced(runS, () => one(yaml))
    if (incremental) checkIncrementalHistory(s"$dir/out")
    val refs = checksums.groupBy(_._1).values.map(_.map(_._2).distinct)
    expect(refs.forall(_.size == 1), "the same input gave different output checksums")
    if (!incremental)
      expect(checksums.map(_._2).distinct.size == 1, "runs disagree on the output checksum")
    val drag = graft.util.HostStat.drag(hostStart, graft.util.HostStat.snapshot())
    metrics ++= Seq(
      "rss_peak_mb" -> rssPeakMb(),
      "host_other_cores" -> drag.otherCores,
      "host_steal_frac" -> drag.stealPct)
    Map("correct" -> problems.isEmpty, "attempted" -> attempted, "failed" -> failed,
      "problems" -> problems.toSeq, "metrics" -> metrics.toMap,
      "checksums" -> checksums.map { case (k, c) => s"$k:$c" }.toSeq, "facts" -> facts)
  }

  private def rssPeakMb(): Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Exception => Double.NaN }

  // ------------------------------------------------------------ tracing

  /** One traced `runPipeline` call plus the stage replay; returns the
    * per-layer metrics. For incremental runs the traced call re-processes
    * the batch an untraced call just processed, against a copy of the
    * manifest as it stood before, so both outputs can be compared. */
  private def traced(untracedRunS: Double, untracedOne: () => Option[Timed])
      : Seq[(String, Any)] = {
    val tracedYaml =
      if (!incremental) yaml
      else {
        val dst2 = s"$dir/out_traced"
        copyTree(new File(s"$dir/out/_manifest"), new File(s"$dst2/_manifest"))
        yaml.replace(s"dst_root: $dir/out\n", s"dst_root: $dst2\n")
      }
    if (incremental) untracedOne() // processes batch k into the shared dst_root
    val listener = new EngineListener
    listener.attach(spark)
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    listener.reset()
    val tr = new Tracer(spark.sparkContext, runId = 1)
    val main = Thread.currentThread().getName
    System.gc()
    val t0 = System.nanoTime()
    val cfg = tr.span("config.parse")(ConfigLoader.fromYaml(tracedYaml))
    val tio = new TimedIO(new SparkIO, tr, cfg)
    val fns = BuiltinTransformations.registryWith(tio).map { case (name, fn) =>
      name -> ((df: DataFrame, kw: Map[String, Any]) => tr.span(s"builtin.$name")(fn(df, kw)))
    }
    val res = tr.span("service.run")(Pipeline.runPipeline(spark, cfg, tio, fns))
    val wall = secs(t0)
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    // key 999 (non-incremental): compared against every untraced call
    if (!check(if (incremental) landed - 1 else 999, res))
      problems += "traced run failed its checks"

    val spans = tr.spans
    writeSpans(spans)
    def named(n: String) = spans.filter(_.name == n)
    def total(n: String) = named(n).map(_.seconds).sum
    val run = named("service.run").head
    val children = spans.filter(s => s.thread == main && s.parent == run.id)
    val childIv = children.map(s => (s.start, s.end))
    val childUnion = Tracer.unionNanos(childIv)
    val side = spans.filter(s => s.thread != main)
    val sideIv = side.map(s => (s.start, s.end))
    val sideUnion = Tracer.unionNanos(sideIv)
    // the main thread joins the side sinks right after the transformed-data
    // sink; side work before that point overlapped the main chain
    val joinAt = named("io.write.transformed").filter(_.thread == main).map(_.end)
      .headOption.getOrElse(run.end)
    val parse = total("config.parse")
    // the traced call's wall time must be its two top-level spans, and the
    // main-thread children of service.run must not overlap (else self time
    // would be double-subtracted)
    val gap = math.max(math.abs(wall - parse - run.seconds) / wall,
      (childIv.map { case (s, e) => e - s }.sum - childUnion).toDouble / (run.end - run.start))
    expect(gap <= 0.05, f"spans account for the traced run only within ${gap * 100}%.1f%%")
    val written = { import scala.jdk.CollectionConverters._; tio.written.asScala.toSeq.distinct }
    val bytesW = written.map(p => dirBytes(new File(p))).sum
    val filesW = written.map(p => dirFiles(new File(p))).sum
    val all = listener.total()
    val builtinNames = Seq("quality_filter", "clean_text", "fuzzy_dedup", "decontaminate",
      "lang_id", "text_stats", "pack_sequences")
    val m = ArrayBuffer[(String, Any)](
      "config.parse_s" -> parse,
      "service.run_s" -> run.seconds,
      "service.self_s" -> (run.end - run.start - childUnion) / 1e9,
      "service.side_overlap_frac" ->
        (if (sideUnion == 0) 0.0
         else Tracer.overlapNanos(sideIv, Seq((run.start, joinAt))).toDouble / sideUnion),
      "io.read_s" -> total("io.read"),
      "io.list_files_s" -> total("io.list_files"),
      "io.read_files_s" -> total("io.read_files"),
      "io.write_text_s" -> total("io.write_text"),
      "io.bytes_written" -> bytesW,
      "io.files_written" -> filesW,
      "io.bytes_per_file" -> (if (filesW == 0) 0.0 else bytesW.toDouble / filesW),
      "io.read_files_frac" ->
        (if (tio.filesListed == 0) 0.0 else tio.filesRead.toDouble / tio.filesListed))
    Seq("transformed", "error_records", "desc_pre", "desc_post", "manifest").foreach(s =>
      m += s"io.write.${s}_s" -> total(s"io.write.$s"))
    builtinNames.foreach { b =>
      val c = listener.total(_ == s"builtin.$b")
      m += s"builtin.$b.build_s" -> total(s"builtin.$b")
      m += s"builtin.$b.jobs" -> c.jobs
      m += s"builtin.$b.task_s" -> c.taskNanos / 1e9
    }
    m += "builtin.fuzzy_dedup.shuffle_bytes" ->
      listener.total(_ == "builtin.fuzzy_dedup").shuffleWriteBytes
    m ++= Seq(
      "spark.jobs" -> all.jobs,
      "spark.stages" -> all.stages,
      "spark.tasks" -> all.tasks,
      "spark.task_s" -> all.taskNanos / 1e9,
      "spark.queue_wait_s" -> all.queueWaitMs / 1000.0,
      "spark.catalyst_s" -> listener.catalystSeconds,
      "spark.shuffle_write_bytes" -> all.shuffleWriteBytes,
      "spark.spill_bytes" -> all.spillBytes,
      "spark.failed_tasks" -> all.failedTasks,
      "spark.core_util" -> all.taskNanos / 1e9 / (wall * Main.Cores),
      "trace.run_s" -> wall,
      "trace.overhead_s" -> (wall - untracedRunS),
      "trace.span_gap_frac" -> gap)
    if (!incremental) cleanup(res)
    m ++= replay(cfg, tr, listener)
    listener.detach(spark)
    m.toSeq
  }

  private def copyTree(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles()).toSeq.flatten.foreach(f => copyTree(f, new File(to, f.getName)))
    } else Files.copy(from.toPath, to.toPath, StandardCopyOption.REPLACE_EXISTING)

  private def writeSpans(spans: Seq[Span]): Unit = {
    val lines = spans.map(s => Json.obj(Seq("id" -> s.id, "name" -> s.name,
      "start_ns" -> s.start, "end_ns" -> s.end, "parent" -> s.parent, "thread" -> s.thread,
      "run_id" -> s.runId)))
    Files.write(Paths.get(s"$dir/spans.jsonl"), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  // ------------------------------------------------------------- replay

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Replays `runPipeline`'s stage chain through the public stage
    * functions, in its order, on the run's own source. `build_s` is the
    * stage call (eager work before the frame returns); `exec_s` is a noop
    * write of the chain up to and including that stage. Builtins are left
    * out: the traced call above already spans them. */
  private def replay(cfg: GeneralConfig, tr: Tracer, listener: EngineListener)
      : Seq[(String, Any)] = {
    val prevAnsi = spark.conf.getOption("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val io = new SparkIO
      val src =
        if (!incremental) io.read(spark, cfg.srcPath, cfg.srcFileType, cfg.srcOptions.toMap)
        else io.readFiles(spark, dataFiles(new File(s"$dir/src"))
          .filter(_.getName.startsWith(f"b${landed - 1}%03d-")).map(_.getPath), cfg.srcFileType)
      Validation.checkExpectedCols(Validation.extractExpectedCols(cfg))(src)
      val m = ArrayBuffer.empty[(String, Any)]
      val nowTs = new java.sql.Timestamp(System.currentTimeMillis())
      val (annBuild, annotated) = timed(tr.span("stages.annotate.build") {
        val rules = RuleParser.compile(cfg.validation)
        src.transform(Transforms.addHashCol)
          .transform(Transforms.addProcessCols(cfg.processName, "replay", cfg.srcPath, nowTs))
          .transform(Validation.withErrorReason(rules))
          .persist(StorageLevel.MEMORY_AND_DISK)
      })
      val (annExec, total) = timed(annotated.count())
      m += "stages.annotate.build_s" -> annBuild
      m += "stages.annotate.exec_s" -> annExec
      val (valid, invalid) = Validation.split(annotated)
      m += "stages.invalid_frac" -> (if (total == 0) 0.0 else invalid.count().toDouble / total)
      m += "stages.describe.exec_s" ->
        timed(noop(Inspect.describe(valid, exactQuantiles = cfg.descStatsExact)))._1
      val t = cfg.transformations
      val chain: Seq[(String, DataFrame => DataFrame)] = Seq(
        "normalise" -> Transforms.normaliseStrCols,
        "dedupe" -> Transforms.deduplicateRows(t.dedupeCols),
        "unnest" -> Transforms.unnestCols(t.unnestCols),
        "filter" -> Transforms.filterRows(t.filterRules),
        "fill" -> Transforms.fillNullsPerCol(t.fillMap),
        "recast" -> Transforms.recastCols(t.recastMap),
        "clip" -> Transforms.clipCols(t.clipMap),
        "derive" -> Transforms.deriveNewCols(t.newColMap),
        "rename" -> Transforms.renameCols(t.renameMap),
        "nest" -> Transforms.nestCols(t.nestCols),
        "drop" -> Transforms.dropCols(t.dropCols),
        "final" -> ((df: DataFrame) =>
          Transforms.standardiseColNames(Transforms.finalSelect(cfg.selectCols)(df))))
      var prev = valid
      chain.foreach { case (name, f) =>
        val (build, out) = timed(tr.span(s"stages.$name.build")(f(prev)))
        m += s"stages.$name.build_s" -> build
        m += s"stages.$name.exec_s" -> timed(noop(out))._1
        prev = out
      }
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      m += "stages.derive.jobs" -> listener.total(_ == "stages.derive.build").jobs
      annotated.unpersist()
      m.toSeq
    } finally prevAnsi match {
      case Some(v) => spark.conf.set("spark.sql.ansi.enabled", v)
      case None => spark.conf.unset("spark.sql.ansi.enabled")
    }
  }

  private def timed[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = body
    (secs(t0), a)
  }
}
