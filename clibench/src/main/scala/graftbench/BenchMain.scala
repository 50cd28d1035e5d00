package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The CLI-action benchmark: drives `graft.app.Main.execute` in-process
  * in a closed loop with one caller, on a `graft.Sessions` session at
  * local[nproc]. Prints human-readable lines, then one JSON result line.
  *
  * Usage: BenchMain --workload <load_upsert|view_fold>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * `--trace 0` measures the end-to-end metrics with nothing attached.
  * `--trace 1` alternates untraced and traced operations: the traced
  * ones give the per-layer metrics, the pair gives the tracing
  * overhead. */
object BenchMain {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val code =
      try run(opts("workload"), opts("seed").toLong, opts("seconds").toInt,
        opts("trace") == "1", new File(opts("work")))
      catch { case e: Throwable => e.printStackTrace(); 2 }
    System.exit(code)
  }

  private def secs(t0: Long): Double = (System.nanoTime - t0) / 1e9

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  private def load1(): Double =
    new String(Files.readAllBytes(new File("/proc/loadavg").toPath), UTF_8)
      .split(' ')(0).toDouble

  /** Heap in use once forced GCs stop freeing memory. The pause between
    * rounds lets Spark's ContextCleaner drop the broadcast and shuffle
    * blocks whose handles the previous GC collected. */
  private def liveHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def used() = { System.gc(); mem.getHeapMemoryUsage.getUsed / 1048576.0 }
    var prev = used()
    var cur = prev
    var rounds = 1
    do {
      Thread.sleep(200)
      prev = cur; cur = used(); rounds += 1
    } while (cur < prev * 0.99 && rounds < 10)
    math.min(prev, cur)
  }

  private def say(line: String): Unit = { println(line); Console.out.flush() }

  private def writeConfigs(calls: Seq[Call]): Unit = {
    require(calls.map(_.dataDir).distinct.size == calls.size,
      "the calls of one operation need a data dir each")
    calls.foreach { c =>
      c.dataDir.mkdirs()
      Files.write(new File(c.dataDir, "config.json").toPath, c.config.getBytes(UTF_8))
    }
  }

  /** Runs the calls in order; their exit codes. */
  private def execute(spark: SparkSession, calls: Seq[Call]): Seq[Int] =
    calls.map(c => graft.app.Main.execute(spark,
      new graft.app.ParquetSink(spark, c.sinkRoot.getPath), c.dataDir.getPath)._1)

  /** Runs calls that must succeed (setup, checks). */
  private def must(spark: SparkSession, calls: Seq[Call], what: String): Unit = {
    writeConfigs(calls)
    execute(spark, calls).find(_ != 0).foreach(code =>
      throw new IllegalStateException(s"$what: the engine exited with $code"))
  }

  def run(name: String, seed: Long, seconds: Int, trace: Boolean, work: File): Int = {
    val nproc = Runtime.getRuntime.availableProcessors
    val loadStart = load1()
    val dir = new File(work, name)
    Disk.delete(dir)
    dir.mkdirs()
    val wl = Workload(name, dir)

    val t0 = System.nanoTime
    val spark = graft.Sessions.builder(nproc.toString)
      .config("spark.local.dir", new File(dir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(dir, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = secs(t0)

    // inputs: not part of setup_s, logged on their own
    val g0 = System.nanoTime
    val maxOps = wl.maxOps(seconds)
    val (inRows, inBytes) = wl.generate(seed, maxOps)
    val gateDir = new File(dir, "gate")
    if (trace) Gate.generate(seed, gateDir)
    val genS = secs(g0)
    say(f"input: $inRows%d rows, $inBytes%d bytes for up to $maxOps%d operations, generated in $genS%.2f s (not in setup_s)")

    val root = new File(dir, "state")
    val p0 = System.nanoTime
    must(spark, wl.prepare(root), "setup")
    val prepS = secs(p0)
    val w0 = System.nanoTime
    (0 until wl.warmup).foreach(i => must(spark, wl.calls(root, i), "warm-up"))
    val warmS = secs(w0)
    val setupS = sessionS + prepS + warmS
    say(f"setup: session $sessionS%.3f s, state $prepS%.3f s, warm-up $warmS%.3f s (${wl.warmup} ops)")

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val checks = mutable.ArrayBuffer.empty[String]
    val gateJobs = tracer.map { t =>
      checks ++= fsProbe(spark, t, dir)
      checks ++= wrapperCheck(spark, t, wl, dir, root, wl.warmup)
      val (jobs, failures) = Gate.crossCheck(spark, t, gateDir)
      checks ++= failures
      jobs
    }

    val latency = mutable.ArrayBuffer.empty[(Double, Boolean)]
    var rows = 0L
    var exitFailures = 0
    val first = wl.warmup
    var next = first
    val l0 = System.nanoTime
    val deadline = l0 + seconds * 1000000000L
    var stop = false
    // when tracing, at least one untraced and one traced operation
    val minOps = if (trace) math.max(wl.statOps, 2) else wl.statOps
    while (!stop && next < maxOps &&
        (System.nanoTime < deadline || next - first < minOps)) {
      val i = next
      val calls = wl.calls(root, i)
      writeConfigs(calls)
      // operations run untraced, traced, traced, untraced, ... so a
      // drift within the loop favours neither side
      val traced = tracer.isDefined && Set(1, 2)((i - first) % 4)
      val t = System.nanoTime
      val res = tracer.filter(_ => traced) match {
        case Some(tr) => tr.traced(i, wl.name)(execute(spark, calls))
        case None => execute(spark, calls)
      }
      latency += ((secs(t), traced))
      next += 1
      if (res.exists(_ != 0)) {
        exitFailures += 1
        stop = true // later inputs assume this one was applied
        say(s"operation $i failed: exit codes ${res.mkString(",")}")
      } else rows += wl.rows(i)
    }
    val loopS = secs(l0)
    val done = next
    say(f"loop: ${latency.length} ops in $loopS%.3f s, latencies ${latency.map(l => f"${l._1}%.3f").mkString(" ")} s")

    val v0 = System.nanoTime
    val verdict = wl.verify(spark, root, done)
    val mismatches = verdict.mismatches
    mismatches.foreach(m => say(s"MISMATCH $m"))
    say(f"verify: ${secs(v0)}%.3f s")
    val storedBytes = Disk.bytesUnder(root)
    val live = verdict.liveRows
    val attempted = latency.length
    val failed = exitFailures + mismatches.length
    say(f"failed_ratio ${failed.toDouble / attempted}%.4f ($exitFailures non-zero exits + ${mismatches.length} mismatches of $attempted ops)")

    val heapMb = liveHeapMb()
    val loadEnd = load1()

    val context =
      s"""{"nproc":$nproc,"master":"${spark.sparkContext.master}",""" +
        s""""max_heap_mb":${Runtime.getRuntime.maxMemory / 1048576},""" +
        s""""commit":${Canon.q(sys.env.getOrElse("GRAFTBENCH_COMMIT", "unknown"))},""" +
        s""""seed":$seed,"workload":"$name","trace":$trace,"seconds":$seconds,""" +
        s""""loop":"closed, 1 caller","load1_start":$loadStart,"load1_end":$loadEnd,""" +
        s""""loaded_at_start":${loadStart > nproc},"input_rows":$inRows,"input_bytes":$inBytes,""" +
        s""""generate_s":$genS}"""
    say(s"""{"context":$context}""")
    if (loadStart > nproc)
      say(f"WARNING: 1-minute load $loadStart%.2f exceeded nproc $nproc at start; wall times are suspect")

    val metrics = tracer match {
      case None => endToEnd(latency.map(_._1).take(wl.statOps).toSeq, rows / loopS, setupS,
        storedBytes.toDouble / live, heapMb)
      case Some(t) =>
        val (m, failures) = layers(t, latency.toSeq, nproc, gateJobs.get, dir)
        checks ++= failures
        m
    }
    metrics.foreach { case (k, v, u) => say(f"$k%-28s $v%.6f $u") }
    checks.foreach(m => say(s"CHECK FAILED $m"))
    val ok = failed == 0 && checks.isEmpty
    val json = metrics.map { case (k, v, u) => s""""$k":{"value":$v,"unit":"$u"}""" }
      .mkString("{", ",", "}")
    say(s"""{"correct":$ok,"attempted":$attempted,"failed":${failed + checks.length},"metrics":$json}""")
    spark.stop()
    if (ok) 0 else 1
  }

  /** `lat`: the latencies of a fixed number of timed operations (the
    * first ones), so that both statistics mean the same on a faster
    * and a slower engine. */
  private def endToEnd(lat: Seq[Double], rowsPerS: Double, setupS: Double,
                       bytesPerRow: Double, heapMb: Double): Seq[(String, Double, String)] = {
    val sorted = lat.sorted
    val n = sorted.length
    // the highest percentile with 10 samples above it; below 21 samples
    // that percentile is under the median, so the maximum stands in
    val (tail, tailNote) =
      if (n >= 21) (sorted(n - 11), f"p${100.0 * (n - 10) / n}%.1f of the first $n ops, 10 above it")
      else (sorted.last, s"max of the first $n ops (under 21 ops no percentile at or above p50 has 10 above it)")
    say(s"op_p50_s is the median and op_tail_s the $tailNote")
    Seq(("op_p50_s", median(lat), "s"), ("op_tail_s", tail, "s"),
      ("rows_per_s", rowsPerS, "rows/s"), ("setup_s", setupS, "s"),
      ("stored_bytes_per_row", bytesPerRow, "B/row"), ("heap_live_mb", heapMb, "MB"))
  }

  /** Prints each traced operation's per-layer metrics and writes the
    * spans; returns the medians and the failed attribution checks. */
  private def layers(t: Tracer, latency: Seq[(Double, Boolean)], cores: Int,
                     gateJobs: Int, dir: File): (Seq[(String, Double, String)], Seq[String]) = {
    val ops = t.traces.filter(_.id < Gate.FirstId)
    val per = ops.map { op =>
      val m = t.metrics(op, cores)
      say(s"""{"op":${op.id},"metrics":{${Tracer.Metrics.zip(m).map { case ((k, _), v) => s""""$k":$v""" }.mkString(",")}}}""")
      m
    }
    val failures = per.zip(ops).flatMap { case (m, op) =>
      val byName = Tracer.Metrics.map(_._1).zip(m).toMap
      val modules = Seq("app", "sources", "operators", "streaming", "other")
        .map(g => byName(s"$g.jobs")).sum
      if (modules == byName("spark.jobs") && op.groupJobs == op.jobs.length) None
      else Some(s"op ${op.id}: module job counts sum to $modules, spark.jobs is " +
        s"${byName("spark.jobs")}, its job group has ${op.groupJobs}")
    }
    val spans = new File(dir, "spans.jsonl")
    Files.write(spans.toPath, (t.spanLines.mkString("\n") + "\n").getBytes(UTF_8))
    val (uj, uq) = t.unattributed
    say(s"spans: ${spans.getPath} ($uj jobs and $uq queries carried no operation id)")
    val untraced = median(latency.filterNot(_._2).map(_._1))
    val traced = median(latency.filter(_._2).map(_._1))
    say(f"tracing overhead: traced op_p50 $traced%.4f s / untraced $untraced%.4f s = ${traced / untraced}%.3f " +
      s"(${latency.count(_._2)} + ${latency.count(!_._2)} ops)")
    (Tracer.Metrics.indices.map(k => (Tracer.Metrics(k)._1, median(per.map(_(k))), Tracer.Metrics(k)._2)) ++
      Seq(("trace.overhead", traced / untraced, "ratio"),
        ("xcheck.cdc_rollup_view.jobs", gateJobs.toDouble, "count")), failures)
  }

  /** Runs the next operation once without and once with the counting
    * filesystem, each on its own copy of the state: the outputs must be
    * identical and the counted run must have seen FS calls. */
  private def wrapperCheck(spark: SparkSession, t: Tracer, wl: Workload,
                           dir: File, root: File, i: Int): Seq[String] = {
    val plain = new File(dir, "wrapcheck_plain")
    val counted = new File(dir, "wrapcheck_counted")
    Disk.copy(root, plain); Disk.copy(root, counted)
    must(spark, wl.calls(plain, i), "wrapper check")
    val dPlain = wl.digest(spark, plain)
    val callsB = wl.calls(counted, i)
    writeConfigs(callsB)
    val id = Gate.FirstId + 1
    val b = t.traced(id, s"${wl.name}:wrapper-check")(execute(spark, callsB))
    val dCounted = wl.digest(spark, counted)
    val fs = t.traces.find(_.id == id).map(_.fs).getOrElse(Nil)
    Seq(plain, counted).foreach(Disk.delete)
    say(s"wrapper check: plain $dPlain, counted $dCounted, fs calls ${CountingFs.Names.zip(fs).map(x => s"${x._1}=${x._2}").mkString(" ")}")
    Seq(
      (b.forall(_ == 0), "the counted run exited non-zero"),
      (dPlain == dCounted, s"outputs differ with the counting filesystem: $dPlain vs $dCounted"),
      (fs.take(7).sum > 0, "the counting filesystem saw no calls")
    ).collect { case (false, m) => s"wrapper check: $m" }
  }

  /** One `create` of a one-byte file in an existing directory through
    * the counting filesystem must count as one create and one byte,
    * and nothing else: the calls the filesystem makes on itself while
    * serving it are not the engine's. */
  private def fsProbe(spark: SparkSession, t: Tracer, dir: File): Seq[String] = {
    val probe = new File(dir, "fsprobe")
    probe.mkdirs()
    val id = Gate.FirstId + 2
    t.traced(id, "fs-probe") {
      val f = new org.apache.hadoop.fs.Path(new File(probe, "x").toURI)
      val out = f.getFileSystem(spark.sparkContext.hadoopConfiguration).create(f)
      try out.write(1) finally out.close()
    }
    Disk.delete(probe)
    val got = CountingFs.Names.zip(t.traces.find(_.id == id).get.fs)
    val want = CountingFs.Names.map(n => n -> (if (n == "fs.create" || n == "fs.bytes_written") 1L else 0L))
    val show = (xs: Seq[(String, Long)]) => xs.map(x => s"${x._1}=${x._2}").mkString(" ")
    say(s"fs probe: one create in an existing directory counted as ${show(got)}")
    if (got == want) Nil else Seq(s"fs probe: counted ${show(got)}, want ${show(want)}")
  }
}
