package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.core.Session

/** One benchmark run in one fresh JVM, writing a JSON record: build the
  * session, locate the inputs `gen.py` wrote, then run passes of one
  * workload until `--seconds` have passed (at least two, three when
  * traced: the warm passes of a traced run alternate tracing on and off).
  * When every warm pass lost more than `--steal-limit` of the machine's
  * CPU to other guests, an untraced run adds one more.
  * Every pass digests its outputs and checks their invariants; the last
  * one also checks the refit law.
  *
  * Usage (from the classpath `run.py` builds):
  * {{{
  * java ... perfbench.Main --workload offline_eval --seconds 15
  *   --trace 0 --inputs <dir> --out <dir> --record <file>
  *   --launched-ms <epoch ms of the JVM launch>
  * }}}
  */
object Main {
  private def now: Long = System.nanoTime()

  private def time[T](body: => T): (T, Double) = {
    val t0 = now
    val v = body
    (v, (now - t0) / 1e9)
  }

  /** (busy, steal) jiffies of the whole machine, from /proc/stat. */
  private def cpuTimes: (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val v = src.getLines().next().split("\\s+").drop(1).map(_.toLong)
      (v.take(3).sum + v.slice(5, 7).sum, if (v.length > 7) v(7) else 0L)
    } finally src.close()
  }

  private def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  /** Heap in use after full collections: what the program still holds.
    * Listener events still queued hold plans, so the bus is drained first;
    * the second collection takes what the first one's reference processing
    * released. */
  private def liveHeapMb(spark: SparkSession): Double = {
    (1 to 2).foreach { _ =>
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      System.gc()
    }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = Workloads.byName(a("workload"))
    val dir = a("inputs")
    val tracer = new Tracer(a.getOrElse("trace", "0") == "1")
    val launchedMs = a.get("launched-ms").map(_.toLong)
      .getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime)

    val spark = tracer.span("core.session_build")(Session.build())
    val sessionS = (System.currentTimeMillis() - launchedMs) / 1e3
    spark.sparkContext.setLogLevel("ERROR")
    tracer.attach(spark)
    // located = listed and schema read, as a loader does before planning
    val (_, locateS) = time(w.files.foreach(t => spark.read.parquet(s"$dir/$t.parquet").schema))
    val rec = mutable.LinkedHashMap[String, Any](
      "workload" -> w.name, "trace" -> tracer.traced,
      "setup_s" -> (sessionS + locateS), "session_s" -> sessionS, "locate_s" -> locateS,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "jdk" -> System.getProperty("java.version"), "spark" -> spark.version)
    runPasses(spark, w, dir, a("out"), a.getOrElse("seconds", "15").toDouble,
      a.getOrElse("steal-limit", "1").toDouble, tracer, rec)
    spark.stop()
    rec("peak_rss_mb") = peakRssMb
    Files.write(Paths.get(a("record")),
      Serialization.write(rec.toMap)(DefaultFormats).getBytes("UTF-8"))
  }

  /** Warm passes an untraced run adds, at most, while every warm pass so far
    * lost more than `stealLimit` of the machine's CPU to other guests. */
  val MaxExtraPasses = 1

  def runPasses(spark: SparkSession, w: Workload, dir: String, out: String,
      seconds: Double, stealLimit: Double, tracer: Tracer,
      rec: mutable.Map[String, Any]): Unit = {
    val traced = tracer.traced
    val minPasses = if (traced) 3 else 2
    var cleanWarm = false
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val tracedWarm = mutable.ArrayBuffer.empty[Int]
    val untracedWall = mutable.ArrayBuffer.empty[Double]
    val persisted = mutable.ArrayBuffer.empty[Double]
    val ratios = mutable.LinkedHashMap.empty[String, Double]
    var law: Seq[String] = Nil
    val deadline = now + (seconds * 1e9).toLong
    var p = 0
    var last = false
    while (!last) {
      p += 1
      spark.catalog.clearCache()
      tracer.pass = p
      // a traced run alternates traced and untraced warm passes, so the
      // tracing overhead is measured inside one JVM
      tracer.paused = traced && p > 1 && p % 2 == 1
      val r = new PassResult(tracer)
      val cpu0 = cpuTimes
      val (err, wall) = time {
        try { tracer.span("pass")(w.pass(spark, dir, out, r)); None }
        catch { case e: Exception => Some(s"${e.getClass.getName}: ${e.getMessage}") }
      }
      val cpu1 = cpuTimes
      val steal = (cpu1._2 - cpu0._2).toDouble /
        math.max(1L, cpu1._1 - cpu0._1 + cpu1._2 - cpu0._2)
      if (p > 1 && steal <= stealLimit) cleanWarm = true
      last = p >= minPasses && now >= deadline &&
        (cleanWarm || traced || p >= minPasses + MaxExtraPasses)
      // digests and invariants are checked on every pass; the refit law
      // and the costly digests once, on the last pass
      val (_, checkS) = time(if (err.isEmpty) {
        r.digesters.foreach { case (name, everyPass, d) =>
          if (everyPass || last)
            try r.digests(name) = d()
            catch { case e: Exception => r.failures += name -> s"digest threw $e" }
        }
        r.checks.foreach { case (name, check) =>
          try check().foreach(msg => r.failures += name -> msg)
          catch { case e: Exception => r.failures += name -> s"check threw $e" }
        }
      })
      if (last) {
        val (l, lawS) = time(r.law.map { f =>
          try f() catch { case e: Exception => Seq(s"law check threw $e") }
        }.getOrElse(Nil))
        law = l
        rec("law_s") = lawS
      }
      // the pass's outputs are still held, as by a caller about to use them
      val liveMb = liveHeapMb(spark)
      r.dropOutputs()
      val leaked = spark.sparkContext.getPersistentRDDs.size
      if (p > 1) {
        persisted += leaked
        if (traced && !tracer.paused) tracedWarm += p
        if (traced && tracer.paused) untracedWall += wall
      }
      ratios ++= r.ratios
      passes += Map(
        "pass" -> p, "traced" -> (traced && !tracer.paused), "wall_s" -> wall,
        "steal_share" -> steal,
        "ops" -> r.ops.map { case (n, k, s) => Map("name" -> n, "kind" -> k, "s" -> s) },
        "digests" -> r.digests.toMap,
        "failures" -> r.failures.map { case (n, m) => Seq(n, m) },
        "error" -> err, "checks_s" -> checkS,
        "persisted_after_pass" -> leaked, "live_heap_mb" -> liveMb)
    }
    spark.catalog.clearCache()
    rec("passes") = passes
    rec("law_failures") = law
    if (traced) {
      rec("per_layer") = Layers.compute(tracer, tracedWarm.toSeq, untracedWall.toSeq,
        ratios.toMap, persisted.toSeq).toMap
      rec("spans") = tracer.allSpans.map(s => Seq(s.id, s.name, s.parent, s.pass,
        s.start, s.end))
    }
  }
}
