package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.perfbench.BusBridge
import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}

/** The benchmark's JVM side. `perfbench/run.py` builds the inputs and
  * starts it as
  *
  * {{{
  * perfbench.Main --seed N --seconds S --trace 0|1 --work DIR --out FILE
  *   [--spans FILE] [--nproc N] [--kernel-copies C] [--kernel-reps R]
  *   [--timed 0]
  *   --workload NAME --fixture DIR [--warmup N] [--queries q1,q2,...]
  *     [--corpus DIR --grep WORD] [--dedup 1] [--kernels DIR] [--expect key=value,...]
  *   [--workload ...]
  * }}}
  *
  * One session serves every workload. Set-up starts the session and
  * opens the fixture tables; then per workload an untimed verification
  * pass runs every op once and checks its
  * output, `--warmup` more untimed passes let the JIT settle, and timed
  * passes run as a closed loop (one op at a time) until `--seconds` have
  * passed. With `--trace 1` untraced and traced
  * passes alternate, so the listener's own cost is measured; traced
  * passes yield the per-layer counters and the span tree. `--timed 0`
  * (the smoke test) skips the timed passes and traces the verification
  * pass instead. The result (every op
  * time, check and counter) goes to `--out` as JSON; `run.py` reduces
  * it to the metrics. */
object Main {
  final case class Workload(name: String, fixture: String,
      args: Map[String, String], expect: Map[String, Long])

  final class OpResult(val op: Op, val span: OpSpan, val secs: Double,
      val run: Run, var error: Option[String])

  def main(argv: Array[String]): Unit = {
    val code =
      try { run(argv); 0 }
      catch { case e: Throwable => e.printStackTrace(); 2 }
    sys.exit(code)
  }

  private def parse(xs: Seq[String]): Map[String, String] =
    xs.grouped(2).map { case Seq(k, v) => k.stripPrefix("--") -> v }.toMap

  private def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def session(nproc: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config(Tables.nanosAsLongConf, "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Opens every fixture table (schema and footers); `run.py` has
    * already checked their row counts against the recorded ones. */
  def openFixture(spark: SparkSession, w: Workload): Unit =
    Option(new File(w.fixture).listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".parquet"))
      .foreach(f => spark.read.parquet(f.getPath).schema)

  def run(argv: Array[String]): Unit = {
    val cut = argv.indexOf("--workload")
    require(cut >= 0, "no --workload given")
    val g = parse(argv.take(cut).toSeq)
    val blocks = mutable.ArrayBuffer.empty[Seq[String]]
    argv.drop(cut).foreach { a =>
      if (a == "--workload") blocks += Seq(a) else blocks(blocks.size - 1) = blocks.last :+ a
    }
    val workloads = blocks.toSeq.map { b =>
      val m = parse(b)
      val expect = m.getOrElse("expect", "").split(",").filter(_.nonEmpty)
        .map { kv => val Array(k, v) = kv.split("=", 2); k -> v.toLong }.toMap
      Workload(m("workload"), m("fixture"), m, expect)
    }
    val seed = g("seed").toLong
    val seconds = g("seconds").toDouble
    val traced = g.getOrElse("trace", "0") == "1"
    val work = g("work")
    val nproc = g.get("nproc").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    val kernelCopies = g.getOrElse("kernel-copies", "8").toInt
    val kernelReps = g.getOrElse("kernel-reps", "3").toInt
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    // ---- set-up: session start + opening the fixtures ------------------
    val setup0 = System.nanoTime()
    val spark = session(nproc, work)
    workloads.foreach(openFixture(spark, _))
    val sessionSetupS = (System.nanoTime() - setup0) / 1e9
    val sc = spark.sparkContext
    val confs = Seq("spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.shuffle.partitions", "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.adaptive.skewJoin.enabled", "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.default.parallelism")
      .map(k => k -> spark.conf.getOption(k).orElse(sc.getConf.getOption(k)).getOrElse(
        if (k == "spark.default.parallelism") sc.defaultParallelism.toString else "<default>"))
      .toMap

    val results = workloads.map { w =>
      val ctx = new Ctx(spark, w.fixture, s"$work/${w.name}", seed, w.args, w.expect)
      val ops = Workloads.ops(ctx)
      // the seed sets the op order, except for the dedup pipelines, whose
      // epochs must arrive in order
      val shuffle = !w.args.contains("dedup")
      val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
      var attempted = 0
      val recorder = new Recorder

      def runPass(idx: Int, verify: Boolean, withTrace: Boolean)
          : (Seq[OpResult], Double, Double, Option[Trace.PassTrace]) = {
        ctx.pass = idx
        ctx.extras.clear()
        Files2.mkdirs(ctx.passDir)
        val order = if (shuffle) new Random(seed * 1000003L + idx).shuffle(ops) else ops
        if (withTrace) {
          BusBridge.drain(sc)
          recorder.take()
          sc.addSparkListener(recorder)
          spark.listenerManager.register(recorder)
        }
        val cpu0 = processCpuS()
        val n0 = System.nanoTime()
        val ms0 = System.currentTimeMillis()
        val rs = order.map { op =>
          val id = s"p$idx.${op.name}"
          sc.setJobGroup(id, op.name, interruptOnCancel = false)
          val s0 = System.currentTimeMillis()
          val t0 = System.nanoTime()
          var buildEnd = s0
          var run: Run = null
          val err =
            try {
              run = op.build(ctx, verify)
              buildEnd = System.currentTimeMillis()
              run.exec()
              None
            } catch { case e: Throwable =>
              if (buildEnd == s0) buildEnd = System.currentTimeMillis()
              Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
            }
          val secs = (System.nanoTime() - t0) / 1e9
          val e = System.currentTimeMillis()
          sc.clearJobGroup()
          new OpResult(op, OpSpan(id, op.name, op.module, s0, buildEnd, e, err.isEmpty),
            secs, run, err)
        }
        val wall = (System.nanoTime() - n0) / 1e9
        val cpu = processCpuS() - cpu0
        val ms1 = System.currentTimeMillis()
        val taken = if (withTrace) {
          BusBridge.drain(sc)
          val t = recorder.take()
          sc.removeSparkListener(recorder)
          spark.listenerManager.unregister(recorder)
          Some(t)
        } else None
        rs.foreach { r =>
          if (r.error.isEmpty)
            r.error = try r.run.check() catch { case e: Throwable =>
              Some(s"check failed: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
            }
          attempted += 1
          r.error.foreach(msg => failures += Map("op" -> r.op.name, "pass" -> idx, "error" -> msg))
        }
        val tr = taken.map { case (jobs, stages, plans) =>
          Trace.summarize(idx, ms0, ms1, rs.map(r => r.span.copy(ok = r.error.isEmpty)),
            jobs, stages, plans, nproc, ctx.extras.toMap)
        }
        Files2.delete(ctx.passDir)
        (rs, wall, cpu, tr)
      }

      def passRecord(idx: Int, t: Boolean, rs: Seq[OpResult], wall: Double, cpu: Double) =
        Map("pass" -> idx, "traced" -> t, "wall_s" -> wall, "cpu_s" -> cpu,
          "ops" -> rs.map(r => Map("name" -> r.op.name, "module" -> r.op.module,
            "s" -> r.secs, "build_s" -> (r.span.buildEnd - r.span.start) / 1000.0,
            "ok" -> r.error.isEmpty)))

      val timed = g.getOrElse("timed", "1") == "1"
      val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
      val traces = mutable.ArrayBuffer.empty[Trace.PassTrace]
      val (vrs, vwall, vcpu, vtr) = runPass(0, verify = true, withTrace = traced && !timed)
      vtr.foreach(traces += _)
      if (timed) (1 to w.args.getOrElse("warmup", "0").toInt).foreach(i => runPass(-i, false, false))
      val timedStartMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var idx = 1
      def elapsed = (System.nanoTime() - t0) / 1e9
      while (timed && (passes.size < (if (traced) 2 else 1) || elapsed < seconds)) {
        val withTrace = traced && idx % 2 == 0
        val (rs, wall, cpu, tr) = runPass(idx, verify = false, withTrace)
        passes += passRecord(idx, withTrace, rs, wall, cpu)
        tr.foreach(traces += _)
        idx += 1
      }

      val layers: Map[String, Double] = if (!traced) Map.empty else {
        val keys = traces.head.metrics.keySet
        val avg = keys.map(k => k -> traces.map(_.metrics(k)).sum / traces.size).toMap
        val kern = w.args.get("kernels")
          .map(dir => Kernels.run(spark, dir, kernelCopies, kernelReps))
          .getOrElse(Kernels.names.map(n => s"kernel.$n.rows_per_s" -> 0.0).toMap)
        val walls = passes.map(p => (p("traced").asInstanceOf[Boolean], p("wall_s").asInstanceOf[Double]))
        val tw = Stats.median(walls.filter(_._1).map(_._2).toSeq)
        val uw = Stats.median(walls.filterNot(_._1).map(_._2).toSeq)
        avg ++ kern + ("ckpt.cut_rows_per_s" -> Kernels.cutRate(spark, kernelReps)) +
          ("trace.overhead_frac" -> (if (timed) tw / uw - 1.0 else 0.0))
      }
      g.get("spans").filter(_ => traced).foreach { f =>
        val pw = new PrintWriter(new File(s"$f.${w.name}.json"))
        try pw.write(Json(Map("workload" -> w.name, "seed" -> seed,
          "passes" -> traces.map(t => Map("metrics" -> t.metrics, "spans" -> t.spans)))))
        finally pw.close()
      }
      val oracle = ops.collect { case q: QueryOp => q.name }
      Map(
        "workload" -> w.name,
        "ops_per_pass" -> ops.size,
        "jvm_start_to_timed_s" -> (timedStartMs - jvmStart) / 1000.0,
        "timed_start_ms" -> timedStartMs,
        "verify_pass" -> passRecord(0, false, vrs, vwall, vcpu),
        "passes" -> passes.toSeq,
        "attempted" -> attempted,
        "failed" -> failures.size,
        "failures" -> failures.toSeq,
        "observed" -> ctx.observed,
        "layers" -> layers,
        "dump_dir" -> ctx.dumpDir,
        "oracle_sql" -> oracle.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap,
        "rows_only" -> oracle.filterNot(SparkEntry.oracleSql.contains))
    }
    val out = Map(
      "seed" -> seed, "nproc" -> nproc, "traced" -> traced,
      "session_setup_s" -> sessionSetupS,
      "versions" -> Map("spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString,
        "java" -> System.getProperty("java.version")),
      "confs" -> confs,
      "workloads" -> results,
      "peak_rss_mb" -> vmHwmMb())
    val pw = new PrintWriter(new File(g("out")))
    try pw.write(Json(out)) finally pw.close()
    spark.stop()
  }
}
