package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import graft.runtime.Sessions

/** The benchmark's JVM side. Runs one workload closed loop (one client, one
  * operation at a time) and prints one `PERFBENCH {...}` line with the raw
  * samples; `perfbench/run.py` turns those into metrics.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --work DIR --build-files N --setup-reps N --warmups N
  *          [--catalog-dir DIR]
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, buildFiles: Long,
                        catalogDir: String, setupReps: Int, warmups: Int) {
    val cpus: Int = Runtime.getRuntime.availableProcessors()
  }

  val Workloads = Seq("build", "catalog")

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val o = Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Paths.get(m("work")).toAbsolutePath, m("build-files").toLong,
      m.getOrElse("catalog-dir", ""), m("setup-reps").toInt, m("warmups").toInt)
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    o
  }

  def make(name: String, spark: SparkSession, o: Opts): Workload = name match {
    case "build" => new BuildWorkload(spark, o.buildFiles, o.seed, o.work)
    case "catalog" => new CatalogWorkload(spark, o.catalogDir, o.seed, o.work)
  }

  /** Runs `n` cycles whose operations are checked (attempted, failed if
    * wrong or if they threw) but whose timings are not reported.
    */
  def warmUp(w: Workload, n: Int, rec: Record, tr: Tracer): Unit = (1 to n).foreach { _ =>
    val scratch = new Record
    w.cycle(scratch, tr)
    rec.checks += scratch.attempted
    rec.failures ++= scratch.failures
  }

  /** CPU time of every thread of this JVM so far. */
  def processCpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(o.work)
    // the catalog's fixture-pinned oracles key off the data set's name, as
    // in graft.Verify
    if (o.catalogDir.nonEmpty)
      System.setProperty("graft.sf.name", Paths.get(o.catalogDir).getFileName.toString)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    // the build sizes its shuffles to the corpus (the pipeline's scale
    // contract); the catalog runs at one partition per core, as the
    // engine's default local session does
    val partitions =
      if (o.workload == "build") Sessions.shufflePartitionsFor(o.cpus, o.buildFiles) else o.cpus
    val spark = Sessions.configure(
      SparkSession.builder().master(s"local[${o.cpus}]")
        .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString),
      partitions).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val rec = new Record
    val runId = s"${o.workload}-${o.seed}-${jvmStartMs}"
    val out = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace, "run_id" -> runId,
      "cpus" -> o.cpus, "session_s" -> sessionS)
    try {
      measure(spark, o, rec, out, runId)
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        rec.check("run", Some(s"aborted: ${Timing.threw(e)}"))
    }
    out("attempted") = rec.attempted
    out("failed") = rec.failed
    out("failures") = rec.failures.take(20).toSeq
    out("samples") = rec.samples.map { case (k, v) => k -> v.toSeq }.toMap
    out("layer") = rec.layer.toMap
    out("peak_rss_mb") = peakRssMb()
    out("gc_s") = Tracer.gcSeconds()
    println("PERFBENCH " + Json(out.toMap))
    spark.stop()
  }

  /** One run: set-up (the repeated part timed per repetition), warm-up,
    * the closed loop for `--seconds`, then the run-level checks. A traced
    * run attaches the tracer for the loop and adds the workload's
    * traced-only layer measurements.
    */
  def measure(spark: SparkSession, o: Opts, rec: Record,
              out: scala.collection.mutable.Map[String, Any], runId: String): Unit = {
    val tr = new Tracer(spark, runId)
    val w = make(o.workload, spark, o)
    out("setup_reps_s") = (1 to o.setupReps).map(_ => Timing.timed(w.setup())._2)
    w match {
      case c: CatalogWorkload => out("catalog_entries") = c.entries.size
      case _ =>
    }
    warmUp(w, o.warmups, rec, tr)
    // the warm-up's garbage is collected before timing, not inside it
    System.gc()
    if (o.trace) tr.enable()
    val cpu0 = processCpuSeconds()
    val t0 = System.nanoTime()
    val deadline = t0 + (o.seconds * 1e9).toLong
    var cycles = 0
    // a failed operation ends the loop: the run is reported as failed
    while (rec.failed == 0 && (cycles == 0 || System.nanoTime() < deadline)) {
      w.cycle(rec, tr)
      cycles += 1
    }
    out("measured_s") = (System.nanoTime() - t0) / 1e9
    out("loop_cpu_s") = processCpuSeconds() - cpu0
    out("cycles") = cycles
    if (o.trace) {
      rec.layer("trace.overhead_s") = tr.overheadSeconds / math.max(1, cycles)
      rec.layer("runtime.gc_s") = tr.all.filter(_.parent == -1).map(_.gcS).sum / math.max(1, cycles)
      w.traced(rec, tr)
      tr.disable()
      val spans = o.work.resolve(s"spans-$runId.json")
      Files.writeString(spans, tr.toJson)
      out("spans_file") = spans.toString
    }
    w.checks(rec)
  }
}
