package graftbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.core.CorpusSpec
import org.apache.spark.graft.BusDrain
import org.apache.spark.sql.SparkSession

/** /proc/stat ticks across an interval, summed over all CPUs: busy (steal
  * included), stolen by the hypervisor for other tenants, and total.
  */
final case class Ticks(busy: Long, steal: Long, total: Long) {
  def toMap: Map[String, Any] = Map("busy" -> busy, "steal" -> steal, "total" -> total)
}

object Ticks {
  def during[T](f: => T): (T, Ticks) = {
    val a = graft.Bench.cpuSample()
    val v = f
    val b = graft.Bench.cpuSample()
    (v, Ticks(b._1 - a._1, b._2 - a._2, b._3 - a._3))
  }
}

/** One timed call into the program. Wall and CPU cover only the call;
  * everything recorded in `extra` is gathered after it returns.
  */
final class Call(val seq: Int, val kind: String, val label: String,
    val startMs: Long, val endMs: Long, val wallMs: Double, val cpuMs: Double,
    val ticks: Ticks, val heapPeakMb: Double, val error: String) {
  var items: Long = 1L
  var checkOk: Boolean = true
  val extra = mutable.LinkedHashMap.empty[String, Any]

  def toMap: Map[String, Any] = Map(
    "seq" -> seq, "kind" -> kind, "label" -> label, "start_ms" -> startMs,
    "end_ms" -> endMs, "wall_ms" -> wallMs, "cpu_ms" -> cpuMs,
    "ticks" -> ticks.toMap, "heap_peak_mb" -> heapPeakMb, "items" -> items, "error" -> error,
    "check_ok" -> checkOk, "extra" -> extra)
}

/** A measurement window: untraced, or traced (job groups set and every
  * job and stage recorded).
  */
final class Segment(val traced: Boolean) {
  val setups = mutable.ArrayBuffer.empty[(Double, Ticks)]
  val calls = mutable.ArrayBuffer.empty[Call]
  val probes = mutable.LinkedHashMap.empty[String, Any]
  var startMs = 0L
  var endMs = 0L
  var gcMs = 0L
  var ticks = Ticks(0, 0, 0)

  def toMap: Map[String, Any] = Map(
    "traced" -> traced,
    "setups" -> setups.map { case (s, t) => Map("s" -> s, "ticks" -> t.toMap) },
    "start_ms" -> startMs,
    "end_ms" -> endMs, "gc_ms" -> gcMs, "ticks" -> ticks.toMap,
    "probes" -> probes, "calls" -> calls.map(_.toMap))
}

/** Shared harness: the Spark session, the listener and the timed-call
  * wrapper every workload goes through.
  */
final class Harness(val workload: String, val seed: Long, val work: String,
    val data: String) {
  val meter = new Meter
  var spark: SparkSession = _
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  val facts = mutable.LinkedHashMap.empty[String, Any]
  private var seq = 0

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Stops any running session and starts a fresh local[4] one. */
  def newSession(): SparkSession = {
    if (spark != null) spark.stop()
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.hadoop.fs.file.impl", graft.engine.NioLocalFs.ImplClass)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(meter)
    spark
  }

  def check(name: String, ok: Boolean, detail: String = ""): Boolean = {
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
    ok
  }

  /** Times one call. In a traced segment the call's jobs carry the job
    * group `label`; jobs are attributed to calls by time as well, because
    * the engine's concurrent tail writes run on pooled threads that keep
    * the local properties of the call that created them.
    */
  def timed[T](seg: Segment, kind: String, label: String)(f: => T): (Option[T], Call) = {
    val sc = spark.sparkContext
    BusDrain.drain(sc)
    val cpu0 = meter.cpuNs.get
    heapPools.foreach(_.resetPeakUsage())
    if (seg.traced) sc.setJobGroup(label, label)
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (r, ticks) = Ticks.during(try Right(f) catch { case e: Throwable => Left(e) })
    val t1 = System.nanoTime()
    val wall1 = System.currentTimeMillis()
    if (seg.traced) sc.clearJobGroup()
    val peak = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    BusDrain.drain(sc)
    val err = r.left.toOption.map { e =>
      System.err.println(s"[perfbench] $label threw: $e")
      s"${e.getClass.getName}: ${e.getMessage}".take(300)
    }.orNull
    seq += 1
    val c = new Call(seq, kind, label, wall0, wall1, (t1 - t0) / 1e6,
      (meter.cpuNs.get - cpu0) / 1e6, ticks, peak, err)
    seg.calls += c
    (r.toOption, c)
  }

  /** Wall seconds of one set-up (a fresh session plus `prepare`), with
    * the ticks across it.
    */
  def setupOnce(seg: Segment, i: Int)(prepare: SparkSession => Unit): (Double, Ticks) = {
    val t0 = System.nanoTime()
    val (_, ticks) = Ticks.during {
      val s = newSession()
      if (seg.traced) s.sparkContext.setJobGroup(s"$workload/setup/$i", "setup")
      prepare(s)
    }
    val secs = (System.nanoTime() - t0) / 1e9
    if (seg.traced) spark.sparkContext.clearJobGroup()
    (secs, ticks)
  }
}

/** A workload drives the program through its public functions only. */
abstract class Workload(val h: Harness) {
  def spark: SparkSession = h.spark
  /** Loads the workload's inputs into a fresh session (part of set-up). */
  def prepare(s: SparkSession): Unit
  /** Untimed calls that warm the JIT and Spark's code paths. */
  def warmUp(): Unit
  /** Issues calls, in whole cycles, until at least `seconds` have passed. */
  def measure(seg: Segment, seconds: Double): Unit
  /** Output checks and end-of-run facts, outside any timed region. */
  def finish(): Unit
  /** The corpus the single-layer fetch and canonicalize probes read. */
  def probeSpec: CorpusSpec
}

object Main {
  val SetupReps = 5

  /** `name:module,...`, the timed queries and their operators module. */
  def queries(arg: String): Map[String, String] =
    arg.split(",").map { kv =>
      val Array(q, m) = kv.split(":")
      q -> m
    }.toMap

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = new File(a("out")).getAbsolutePath
    val h = new Harness(workload, seed, work, a.getOrElse("data", ""))
    val w: Workload = workload match {
      case "crawl_wide" => new CrawlWide(h)
      case "crawl_deep" => new CrawlDeep(h)
      case "analytics" => new Analytics(h, queries(a("queries")))
      case other => sys.error(s"unknown workload $other")
    }
    val segments = if (traced) Seq(new Segment(false), new Segment(true))
      else Seq(new Segment(false))
    var exit = 0
    val t0 = System.nanoTime()
    def phase(name: String): Unit = System.err.println(
      f"[perfbench] $workload $name done at ${(System.nanoTime() - t0) / 1e9}%.1f s")
    try {
      for (seg <- segments; i <- 1 to SetupReps) {
        h.meter.tracing = seg.traced
        seg.setups += h.setupOnce(seg, i)(w.prepare)
      }
      phase("set-up")
      h.meter.tracing = false
      w.warmUp()
      phase("warm-up")
      for (seg <- segments) {
        h.meter.tracing = seg.traced
        // every window starts from the live heap alone, so its heap peak
        // does not depend on how much garbage set-up and warm-up left
        System.gc()
        val gc0 = h.gcMs
        seg.startMs = System.currentTimeMillis()
        seg.ticks = Ticks.during(w.measure(seg, seconds))._2
        seg.endMs = System.currentTimeMillis()
        seg.gcMs = h.gcMs - gc0
        h.meter.tracing = false
        phase(if (seg.traced) "traced window" else "window")
        if (seg.traced) Probes.run(seg, w.probeSpec)
      }
      w.finish()
      phase("checks")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        h.check("run", ok = false, s"${e.getClass.getName}: ${e.getMessage}")
        exit = 3
    }
    val result = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced, "segments" -> segments.map(_.toMap),
      "checks" -> h.checks, "facts" -> h.facts)
    Files.write(Paths.get(work, "result.json"),
      Json.write(result).getBytes(StandardCharsets.UTF_8))
    segments.find(_.traced).foreach(seg =>
      Spans.write(Paths.get(work, "spans.jsonl"), workload, seg, h.meter))
    if (h.spark != null) h.spark.stop()
    sys.exit(exit)
  }
}
