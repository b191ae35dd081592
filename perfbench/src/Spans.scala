package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** Writes the traced window as spans, one JSON object per line:
  * workload → call → Spark job → stage, each with start, end (epoch ms)
  * and parent. A job belongs to the call whose interval holds its
  * submission time (calls run one at a time); a stage belongs to the
  * earliest job that lists it.
  */
object Spans {
  def write(path: Path, workload: String, seg: Segment, meter: Meter): Unit = {
    val lines = Vector.newBuilder[String]
    def span(id: String, parent: String, kind: String, name: String,
        start: Long, end: Long, attrs: Map[String, Any]): Unit =
      lines += Json.write(Map("id" -> id, "parent" -> parent, "kind" -> kind,
        "name" -> name, "start_ms" -> start, "end_ms" -> end) ++ attrs)

    span("w", null, "workload", workload, seg.startMs, seg.endMs, Map.empty)
    seg.calls.foreach { c =>
      span(s"c${c.seq}", "w", "call", c.label, c.startMs, c.endMs,
        Map("call_kind" -> c.kind))
    }
    val jobs = meter.jobList
    jobs.foreach { j =>
      val parent = seg.calls.find(c => j.startMs >= c.startMs && j.startMs <= c.endMs)
        .map(c => s"c${c.seq}").getOrElse("w")
      span(s"j${j.jobId}", parent, "job",
        Option(j.desc).getOrElse(Option(j.group).getOrElse("")),
        j.startMs, math.max(j.endMs, j.startMs),
        Map("group" -> j.group, "desc" -> j.desc, "ok" -> j.ok))
    }
    meter.stageList.foreach { s =>
      val parent = jobs.find(j => j.stageIds.contains(s.stageId) &&
        j.startMs <= s.startMs).map(j => s"j${j.jobId}").getOrElse("w")
      span(s"s${s.stageId}.${s.attempt}", parent, "stage", s.name, s.startMs,
        math.max(s.endMs, s.startMs), Map(
          "tasks" -> s.tasks.get, "cpu_ms" -> s.cpuNs.get / 1e6,
          "sched_delay_ms" -> s.schedDelayMs.get,
          "shuffle_read_bytes" -> s.shuffleReadBytes.get,
          "shuffle_write_bytes" -> s.shuffleWriteBytes.get,
          "spill_bytes" -> s.spillBytes.get, "input_bytes" -> s.inputBytes.get,
          "input_records" -> s.inputRecords.get,
          "output_bytes" -> s.outputBytes.get))
    }
    Files.write(path, lines.result().mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
  }
}
