package graftbench

import graft.core.{Canon, SynthCorpus}

/** Prints a digest of the inputs a seed gives each workload, without
  * starting Spark: the corpus's host policies and a sample of outlinks and
  * payloads for the crawl workloads, the query order for analytics (its
  * tables come from perfbench/gen_tables.py). Used by perfbench/selftest.py.
  *
  *   graftbench.Inputs <seed> <name:module,...>
  */
object Inputs {
  def main(args: Array[String]): Unit = {
    val h = new Harness("inputs", args(0).toLong, "", "")
    def corpus(spec: graft.core.CorpusSpec): Long = {
      val urls = (0 until 32).map(i => Canon.canonicalize(spec.pageUrl(i % spec.numHosts, i)))
      val parts = spec.hostPolicies.map(_.toString) ++
        urls.flatMap(u => SynthCorpus.outlinks(spec, u)) ++
        urls.map(u => SynthCorpus.failAttempts(spec, u).toString) ++
        urls.take(4).map(u => SynthCorpus.caption(spec, u))
      Canon.xxhash64(parts.mkString("\n"))
    }
    println(s"crawl_wide ${corpus(new CrawlWide(h).spec)}")
    println(s"crawl_deep ${corpus(new CrawlDeep(h).spec)}")
    println(s"analytics ${new Analytics(h, Main.queries(args(1))).order.mkString(",")}")
  }
}
