package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      scale: Double, corrupt: Boolean, workDir: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv.getOrElse("trace", "0") == "1", kv.getOrElse("scale", "1").toDouble,
      kv.getOrElse("corrupt-expected", "0") == "1", kv("work-dir"))
    require(Workloads.names.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds >= 1 && a.scale > 0, "seconds >= 1 and scale > 0")
    a
  }
}

/** One timed operation. `run` does the operation and returns the check of
  * its output; the check runs after the clock stops and throws on a
  * mismatch.
  */
final case class Op(shape: String, kind: String, table: Option[String],
                    run: Probe => (() => Unit))

/** A workload: its inputs and expected values (`prepare`, untimed), the
  * program's set-up work (`setup`, timed as `setup_s`), and a rotation of
  * operations that the closed loop repeats.
  */
trait Workload {
  def prepare(): Unit
  def setup(dir: String): Unit
  def rotation(dir: String, round: Int): Seq[Op]
  /** The graft tables set-up wrote, with the raw bytes of their input. */
  def tables(dir: String): Seq[(String, Long)]
  /** Generated frames whose values the codec and varint replay uses. */
  def samples: Seq[org.apache.spark.sql.DataFrame]
  /** Workload-specific figures for the report line. */
  def report(timed: Seq[(String, Double)]): Map[String, Double]
  def sizes: Map[String, Long]
  /** Untimed warm-up before the loop, in seconds. */
  def warmSeconds: Double = Main.WarmSeconds
}

final class Ctx(val spark: SparkSession, val args: Args) {
  val probe = new Probe
  def read(path: String) = spark.read.format("graft").load(path)
}

object Main {
  /** Default untimed warm-up: at least this long and this many rotations. */
  final val WarmSeconds = 5.0
  final val WarmPasses = 2
  final val MinPasses = 3

  private def session(a: Args): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // a rotation generates more distinct classes than Spark's default
      // cache of 100 holds, so every rotation recompiled them in Janino
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.local.dir", s"${a.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.workDir}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = try Args.parse(argv) catch {
      case e: Exception =>
        System.err.println(s"perfbench: ${e.getMessage}")
        sys.exit(2)
    }
    val runDir = s"${a.workDir}/run-${a.workload}-${a.seed}-${ProcessHandle.current().pid()}"
    val spark = session(a)
    val code = try { run(a, new Ctx(spark, a), runDir); 0 } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    } finally {
      Files.deleteTree(runDir)
      spark.sparkContext.setLogLevel("OFF")
      spark.stop()
    }
    sys.exit(code)
  }

  private def run(a: Args, ctx: Ctx, runDir: String): Unit = {
    val wl = Workloads(a.workload, ctx)
    val t0 = Clock.ms()
    wl.prepare()
    val prepareS = (Clock.ms() - t0) / 1e3

    // set-up: the program's own work before the loop, repeated into fresh
    // directories; the last copy is the one the loop runs on
    val setupReps = if (a.trace) 1 else 5
    val setupTimes = (0 until setupReps).map { i =>
      val dir = s"$runDir/setup-$i"
      if (i > 0) Files.deleteTree(s"$runDir/setup-${i - 1}")
      val s = Clock.ms()
      wl.setup(dir)
      (Clock.ms() - s) / 1e3
    }
    val dir = s"$runDir/setup-${setupReps - 1}"
    val tables = wl.tables(dir)
    val tableBytes = tables.map(t => Files.tableBytes(t._1)).sum
    val storedRatio = tableBytes.toDouble / tables.map(_._2).sum

    val tracer = if (a.trace) Some(new Tracer(ctx.spark)) else None
    var attempted = 0
    var failed = 0
    var checkMs = 0.0
    // (round, shape, ms, traced) of every timed operation; a failed one is
    // +Inf, so it misses every latency figure
    val timed = mutable.ArrayBuffer.empty[(Int, String, Double, Boolean)]
    val cpuByRound = mutable.LinkedHashMap.empty[Int, Double]

    def exec(op: Op, round: Int, record: Boolean, traced: Boolean): Unit = {
      attempted += 1
      ctx.probe.traced = traced
      var ms = Double.PositiveInfinity
      val cpu0 = Files.processCpuMs()
      try {
        def body = {
          val s = Clock.ms()
          val check = op.run(ctx.probe)
          val e = Clock.ms()
          (check, s, e)
        }
        val (check, s, e) = tracer match {
          case Some(t) if traced => t.run(op.shape, op.kind, op.table, ctx.probe)(body)
          case _ => body
        }
        if (record) cpuByRound(round) = cpuByRound.getOrElse(round, 0.0) + Files.processCpuMs() - cpu0
        val c = Clock.ms()
        check()
        checkMs += Clock.ms() - c
        ms = e - s
      } catch {
        case e: Throwable =>
          failed += 1
          System.err.println(s"perfbench: op ${op.shape} failed: $e")
      }
      if (record) timed += ((round, op.shape, ms, traced))
    }

    // warm-up, untimed: at least WarmPasses whole rotations (the first one
    // compiles most of the code) and the workload's warmSeconds, so every
    // operation shape has run and the JIT has compiled the loop's code paths
    val w0 = Clock.ms()
    def jitMs = java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    val jit0 = jitMs
    var round = 0
    while (round < WarmPasses || Clock.ms() - w0 < wl.warmSeconds * 1000) {
      wl.rotation(dir, round).foreach(op => exec(op, round, record = false, traced = false))
      round += 1
    }
    val warmS = (Clock.ms() - w0) / 1e3

    // closed loop, one client: whole rotations until the time is up and at
    // least MinPasses have run, so a workload with long rotations still has
    // a median over several; the traced run alternates traced and untraced
    // rotations, so the two halves see the same drift and their ratio is
    // the tracing overhead
    val loopStart = Clock.ms()
    val jit1 = jitMs
    val firstTimed = round
    while (round - firstTimed < MinPasses || Clock.ms() - loopStart < a.seconds * 1000.0) {
      val traced = a.trace && (round - firstTimed) % 2 == 0
      tracer.foreach(_.attach(traced))
      wl.rotation(dir, round).foreach(op => exec(op, round, record = true, traced = traced))
      round += 1
    }
    tracer.foreach(_.attach(false))
    val loopS = (Clock.ms() - loopStart) / 1e3
    val plain = timed.filter(!_._4).toSeq
    val passS = plain.groupBy(_._1).toSeq.sortBy(_._1).map(_._2.map(_._3).sum / 1e3)
    val shapeMs = plain.groupBy(_._2).map { case (k, v) => k -> Stats.median(v.map(_._3)) }

    val info = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "timed_rounds" -> (round - firstTimed),
      "timed_ops" -> timed.size, "failed_op_share" -> failed.toDouble / math.max(attempted, 1),
      "prepare_s" -> prepareS, "setup_s_each" -> setupTimes.mkString("[", ",", "]"),
      "warm_s" -> warmS, "loop_s" -> loopS, "jit_ms_before_warm" -> jit0,
      "jit_ms_warm" -> (jit1 - jit0), "jit_ms_loop" -> (jitMs - jit1),
      "pass_s_each" -> passS.map(x => f"$x%.3f").mkString("[", ",", "]"),
      "pass_cpu_s_each" -> cpuByRound.values.map(x => f"${x / 1e3}%.3f").mkString("[", ",", "]"),
      "check_s" -> checkMs / 1e3,
      "table_bytes" -> tableBytes, "raw_bytes" -> tables.map(_._2).sum)
    info ++= wl.sizes
    info ++= wl.report(timed.map(t => (t._2, t._3)).toSeq)
    shapeMs.toSeq.sortBy(_._1).foreach { case (k, v) => info += s"shape_ms.$k" -> v }

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!a.trace) {
      metrics += "setup_s" -> (Stats.median(setupTimes), "s")
      metrics += "pass_s" -> (Stats.median(passS), "s")
      metrics += "stored_ratio" -> (storedRatio, "ratio")
      metrics += "peak_rss_mb" -> (Files.peakRssMb(), "MB")
    } else {
      val t = tracer.get
      val replay = Layers.replay(ctx.spark, wl.samples, tables.map(_._1), t.spans)
      val self = t.spans.selfMs
      self.toSeq.sortBy(_._1).foreach { case (k, v) => info += s"self_ms.$k" -> v }
      val tracePath = s"${a.workDir}/trace-${a.workload}-${a.seed}.jsonl"
      t.spans.write(tracePath)
      info += "trace_file" -> tracePath
      info += "trace_spans" -> t.spans.all.size
      info ++= Layers.pruneDecodeShares(t.traces.toSeq)
      val (blocks, layerReplay) = replay.partition(_._1.startsWith("codecs.blocks."))
      blocks.foreach { case (k, (v, _)) => info += k -> v }
      val report = wl.report(Nil)
      (Layers.fromTraces(t.traces.toSeq) ++ layerReplay ++ Seq(
        "ops.lsh_recall" -> (report.getOrElse("lsh_recall", 0.0), "ratio"),
        "ops.embedding_recall" -> (report.getOrElse("embedding_recall", 0.0), "ratio"),
        "trace.overhead_ratio" -> (Layers.overhead(
          timed.filter(_._4).map(x => (x._2, x._3)).toSeq, plain.map(x => (x._2, x._3))), "ratio")))
        .foreach(metrics += _)
    }
    println(Json.obj(info.toSeq))
    println(Json.result(failed == 0, attempted, failed, metrics.toSeq))
  }
}

object Stats {
  /** Percentile with linear interpolation between closest ranks. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val v = xs.sorted.toArray
    if (v.isEmpty) return Double.NaN
    val r = p / 100.0 * (v.length - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, v.length - 1)
    if (v(hi).isInfinite || v(lo).isInfinite) Double.MaxValue
    else v(lo) + (v(hi) - v(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

object Json {
  def num(d: Double): String =
    if (d.isNaN) "null" else if (d.isInfinite) Double.MaxValue.toString else d.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case d: Double => num(d)
    case l: Long => l.toString
    case i: Int => i.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case other => str(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
  def result(correct: Boolean, attempted: Int, failed: Int,
             metrics: Seq[(String, (Double, String))]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": """ +
      metrics.map { case (k, (v, u)) => s"${str(k)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }
        .mkString("{", ", ", "}") + "}"
}

object Files {
  import org.apache.hadoop.fs.Path
  private def fs(p: String) = new Path(p).getFileSystem(new org.apache.hadoop.conf.Configuration())

  def deleteTree(p: String): Unit = { val f = fs(p); f.delete(new Path(p), true) }

  /** Bytes of a table's files, without the local filesystem's `.crc`
    * sidecars (a property of the Hadoop client, not of the table).
    */
  def tableBytes(p: String): Long = {
    val f = fs(p)
    val it = f.listFiles(new Path(p), true)
    var n = 0L
    while (it.hasNext) {
      val s = it.next()
      if (!s.getPath.getName.endsWith(".crc")) n += s.getLen
    }
    n
  }

  /** CPU time of every thread of this process, in ms. */
  def processCpuMs(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN) finally src.close()
  }
}

