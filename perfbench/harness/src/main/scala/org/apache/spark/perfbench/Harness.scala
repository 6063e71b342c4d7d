package org.apache.spark.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Closed-loop benchmark driver: one client on the driver thread, one op at
  * a time, `local[cores]`.
  *
  * A run sets up the session once, counted from JVM process start (setup_s),
  * runs one cold pass over the workload's ops, then, for workloads that have
  * them, warm-up passes and then whole warm passes until the measuring time
  * is used up. A traced run (`--trace 1`) runs the same passes with the
  * span recorder on, then the per-layer direct calls of [[Layers]]. The
  * run's raw samples go to `--result` as one JSON object;
  * `perfbench/run.py` turns them into metrics and checks the outputs.
  *
  * Args: --workload NAME --data DIR --work DIR --seconds S --trace 0|1
  *       --result FILE [--inject-fail OP]
  */
object Harness {

  /** Warm passes keep speeding up while the JIT finishes (q112b, ten runs:
    * 5.5, 4.8, 4.3 s median for passes 1-3; it flattens near 3.9 s by the
    * eighth). So the first `WarmupPasses` are warm-up and are not timed as
    * samples; then a run times at least `MinWarmPasses` and reports their
    * median. */
  val WarmupPasses = 2
  val MinWarmPasses = 5
  val Cores: Int = Runtime.getRuntime.availableProcessors()

  final case class Args(workload: String, data: String, work: String,
      seconds: Double, trace: Boolean, result: String, injectFail: Option[String])

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("data"), m("work"), m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("result"), m.get("inject-fail"))
  }

  /** What an op's plan-building call returned: the frames it will run, and
    * the action that runs them (`check` = write the output for checking). */
  final case class Built(frames: Seq[DataFrame], exec: Boolean => Unit)

  /** One op. `run` is the timed body of an untraced pass; `build` splits the
    * same work for the traced pass into plan building (eager jobs inside it
    * count as the op's), planning, and execution. */
  final case class Op(name: String, build: SparkSession => Built,
      run: (SparkSession, Boolean) => Unit)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = Workloads(a.workload, a.data, a.work)
    val ops = w.ops.map { op =>
      if (a.injectFail.contains(op.name))
        op.copy(build = _ => throw new RuntimeException(s"injected failure in ${op.name}"),
          run = (_, _) => throw new RuntimeException(s"injected failure in ${op.name}"))
      else op
    }

    // ---- setup, from process start: JVM start, class loading, session, warm-up
    val t0 = ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
    val hostAtStart = Host.read()
    val spark = session(a)
    val t1 = System.currentTimeMillis() / 1e3
    w.warmup(spark)
    val setupS = System.currentTimeMillis() / 1e3 - t0
    val setupHost = Host.read() - hostAtStart
    System.err.println(f"[perfbench] setup: session ${t1 - t0}%.2fs, warm-up ${setupS - (t1 - t0)}%.2fs")

    val attempted = mutable.Map.empty[String, Int].withDefaultValue(0)
    val threw = mutable.Map.empty[String, Int].withDefaultValue(0)
    var peakHeapMb = 0.0
    def heapAfterGc(): Unit = {
      // collect, let Spark's ContextCleaner drop the blocks of RDDs that
      // just became unreachable, collect again: the live set, not a
      // snapshot of how far the asynchronous cleanup had got
      System.gc()
      Thread.sleep(500)
      System.gc()
      val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
      peakHeapMb = math.max(peakHeapMb, used)
    }

    /** One pass; returns (wall seconds, per-op seconds of ops that ran, host). */
    def pass(check: Boolean, trace: Option[Trace]): (Double, Seq[(String, Double)], Host) = {
      val passSpan = trace.map(_.open("pass"))
      val h0 = Host.read()
      val t0 = System.nanoTime()
      val times = ops.flatMap { op =>
        attempted(op.name) += 1
        val o0 = System.nanoTime()
        val opSpan = trace.map(_.open(s"op:${op.name}", newOp = true))
        val ok =
          try {
            trace match {
              case None => op.run(spark, check)
              case Some(t) =>
                val b = Layers.span(spark, t, "queries.build")(op.build(spark))
                Layers.span(spark, t, "catalyst.plan")(b.frames.foreach(_.queryExecution.executedPlan))
                Layers.span(spark, t, "exec")(b.exec(check))
            }
            true
          } catch { case NonFatal(e) =>
            System.err.println(s"[perfbench] ${op.name} failed: $e")
            threw(op.name) += 1
            false
          }
        opSpan.foreach(s => trace.get.close(s))
        if (ok) Some(op.name -> (System.nanoTime() - o0) / 1e9) else None
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val host = Host.read() - h0
      passSpan.foreach(s => trace.get.close(s))
      heapAfterGc()
      (wall, times, host)
    }

    // ---- with --trace 1 every pass is traced; spans stay in memory
    val trace = if (a.trace) Some(new Trace) else None
    val listener = trace.map(new Listener(_))
    listener.foreach(spark.sparkContext.addSparkListener)
    val runSpan = trace.map(_.open("run"))

    // ---- cold pass (checked), then warm passes for the measuring time
    val cg0 = CodeGenerator.compileTime
    val (coldS, coldOps, coldHost) = pass(check = true, trace)
    val codegenS = (CodeGenerator.compileTime - cg0) / 1e9
    val warmup = if (w.warmPasses) Seq.fill(WarmupPasses)(pass(check = false, trace)._1) else Nil
    val warm = mutable.ArrayBuffer.empty[(Double, Seq[(String, Double)], Host)]
    val m0 = System.nanoTime()
    while (w.warmPasses && (warm.size < MinWarmPasses || (System.nanoTime() - m0) / 1e9 < a.seconds))
      warm += pass(check = false, trace)

    // ---- per-layer numbers: the last pass, then direct calls per layer
    var layers = Map.empty[String, Double]
    for (t <- trace) {
      val direct = Layers.direct(spark, t, a.workload, a.data, a.work)
      t.close(runSpan.get)
      Listener.drain(spark.sparkContext)
      listener.foreach(spark.sparkContext.removeSparkListener)
      layers = Layers.fromPass(t, Cores) ++ direct ++ Map(
        "jvm.codegen_compile_s" -> codegenS,
        "trace.pass_s" -> (if (warm.isEmpty) coldS else median(warm.map(_._1).toSeq)))
      Files.write(Paths.get(a.work, "spans.jsonl"),
        t.toJsonLines.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    spark.stop()

    def opsJson(xs: Seq[(String, Double)]) =
      xs.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
    def mapJson(m: collection.Map[String, _]) =
      m.toSeq.sortBy(_._1).map { case (k, v) =>
        s"${Json.str(k)}:${v match { case d: Double => Json.num(d); case x => x.toString }}"
      }.mkString("{", ",", "}")
    val json =
      s"""{"workload":${Json.str(a.workload)},"cores":$Cores,""" +
      s""""ops":[${ops.map(o => Json.str(o.name)).mkString(",")}],""" +
      s""""setup_s":${Json.num(setupS)},""" +
      s""""setup_host":${setupHost.json},""" +
      s""""cold":{"pass_s":${Json.num(coldS)},"host":${coldHost.json},"ops":${opsJson(coldOps)}},""" +
      s""""warmup_pass_s":[${warmup.map(Json.num).mkString(",")}],""" +
      s""""warm":[${warm.map { case (p, o, h) => s"""{"pass_s":${Json.num(p)},"host":${h.json},"ops":${opsJson(o)}}""" }.mkString(",")}],""" +
      s""""attempted":${mapJson(attempted)},"threw":${mapJson(threw)},""" +
      s""""peak_heap_mb":${Json.num(peakHeapMb)},"layers":${mapJson(layers)}}"""
    // the ops' DuckDB twins, for the output check
    val oracles = graft.SparkEntry.oracleSql.filter { case (k, _) => ops.exists(_.name == k) }
    Files.write(Paths.get(a.work, "oracle_sql.json"), oracles.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
      .getBytes("UTF-8"))
    Files.write(Paths.get(a.result), json.getBytes("UTF-8"))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The Bench session settings, with every scratch path inside the work dir. */
  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** CPU seconds of this process and of its JIT compiler threads, and of the
  * whole machine from /proc/stat: busy (user, system, irq) and steal, the
  * time the hypervisor ran something else while a vCPU had work. */
final case class Host(cpuS: Double, jitS: Double, busyS: Double, stealS: Double) {
  def -(o: Host): Host = Host(cpuS - o.cpuS, jitS - o.jitS, busyS - o.busyS, stealS - o.stealS)
  def json: String = s"""{"cpu_s":${Json.num(cpuS)},"jit_s":${Json.num(jitS)},""" +
    s""""busy_s":${Json.num(busyS)},"steal_s":${Json.num(stealS)}}"""
}

object Host {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = ManagementFactory.getCompilationMXBean
  private val Hz = 100.0

  def read(): Host = {
    val cpu = os.getProcessCpuTime / 1e9
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toDouble) finally src.close()
    // user nice system idle iowait irq softirq steal
    Host(cpu, jit.getTotalCompilationTime / 1e3, (f(0) + f(1) + f(2) + f(5) + f(6)) / Hz, f(7) / Hz)
  }
}
