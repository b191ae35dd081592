package graftbench

import java.lang.management.ManagementFactory

import graft.core.{Canon, CorpusSpec, SynthCorpus}

/** Single-layer probes, run next to a traced window with Spark idle. */
object Probes {
  def run(seg: Segment, spec: CorpusSpec): Unit = {
    val urls = (0 until 256).map { i =>
      Canon.canonicalize(spec.pageUrl(i % spec.numHosts,
        (i / spec.numHosts) % spec.pagesPerHost))
    }
    // synthcorpus: CPU per fetched URL on one thread (attempt 99 succeeds
    // for every URL that is not permanently failing)
    val tm = ManagementFactory.getThreadMXBean
    val c0 = tm.getCurrentThreadCpuTime
    val t0 = System.nanoTime()
    var n = 0
    while (n < 64 || System.nanoTime() - t0 < 1500000000L) {
      SynthCorpus.fetch(spec, urls(n % urls.size), 99)
      n += 1
    }
    seg.probes("fetch_us_per_url") = (tm.getCurrentThreadCpuTime - c0) / 1e3 / n
    // the hardware ceiling: four raw fetch threads, no Spark
    seg.probes("raw_urls_per_s") = graft.Bench.rawFetchFor(4, 2.0, spec)
    // canon: raw URLs in the messy shapes the corpus's outlinks take
    val messy = urls.zipWithIndex.map { case (u, i) =>
      val host = Canon.hostOf(u)
      val path = Canon.pathOf(u)
      s"HTTP://${host.toUpperCase}:80/x/..$path?z=$i&a=1#frag"
    }
    var m = 0
    var sink = 0
    val t1 = System.nanoTime()
    while (m < 1000 || System.nanoTime() - t1 < 500000000L) {
      sink += Canon.canonicalize(messy(m % messy.size)).length
      m += 1
    }
    seg.probes("canonicalize_ns_per_url") = (System.nanoTime() - t1).toDouble / m
    seg.probes("canonicalize_chars") = sink
  }
}
