package graftbench

import java.io.File
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import graft.core.{Canon, CorpusSpec, CrawlConfig, RefOracle, Seed, SynthCorpus}
import graft.engine.{CrawlEngine, Fs, Snapshot}
import graft.engine.CrawlEngine.CrawlResult
import org.apache.spark.sql.SparkSession

/** Helpers both crawl workloads share: oracle bookkeeping, the lookup key
  * draw and its check, and on-disk state accounting.
  */
object CrawlCommon {

  /** Round in which each URL was fetched successfully, within the oracle's
    * horizon (no TTL refetch happens inside it, so a URL succeeds once).
    */
  def okRound(o: RefOracle.OracleResult): Map[String, Int] = {
    val ok = o.fetched.map(_.image_id).toSet
    o.order.filter { case (_, u) => ok(u) }
      .groupMapReduce(_._2)(_._1)(math.max)
  }

  /** Eight lookup keys: four fetched by round `r`, four never fetched. */
  def lookupKeys(rng: SplittableRandom, fetched: IndexedSeq[String],
      unfetched: IndexedSeq[String]): Seq[String] = {
    def draw(xs: IndexedSeq[String]) =
      if (xs.isEmpty) Seq.empty else Seq.fill(4)(xs(rng.nextInt(xs.size)))
    draw(fetched) ++ draw(unfetched)
  }

  /** Issues one lookup and materialises every column of its hits. */
  def lookup(spark: SparkSession, res: CrawlResult, urls: Seq[String])
      : (Array[org.apache.spark.sql.Row], Seq[String]) = {
    val (hits, misses) = res.lookup(spark, urls)
    (hits.collect(), misses)
  }

  /** Checks a lookup against the oracle: hits are exactly the requested
    * URLs fetched so far, with the corpus's payload and caption.
    */
  def checkLookup(h: Harness, name: String, spec: CorpusSpec, urls: Seq[String],
      fetchedSoFar: String => Boolean,
      got: (Array[org.apache.spark.sql.Row], Seq[String])): Boolean = {
    val want = urls.map(Canon.canonicalize).distinct
    val (wantHit, wantMiss) = want.partition(fetchedSoFar)
    val (rows, misses) = got
    val ids = rows.map(_.getAs[String]("image_id"))
    val payloadOk = rows.forall { r =>
      val id = r.getAs[String]("image_id")
      r.getAs[String]("caption") == SynthCorpus.caption(spec, id) &&
        java.util.Arrays.equals(r.getAs[Array[Byte]]("bytes"),
          SynthCorpus.imageBytes(spec, id)._1)
    }
    h.check(name, ids.toSet == wantHit.toSet && ids.length == wantHit.size &&
      misses.toSet == wantMiss.toSet && payloadOk,
      s"hits ${ids.sorted.mkString(",")} want ${wantHit.sorted.mkString(",")}; " +
        s"misses ${misses.size} want ${wantMiss.size}; payload ok $payloadOk")
  }

  /** Bytes of every file under `dir`, level by level through Fs.dirBytes. */
  def treeBytes(dir: String): Long = {
    val subs = Option(new File(dir).listFiles()).toSeq.flatten.filter(_.isDirectory)
    Fs.dirBytes(dir) + subs.map(d => treeBytes(d.getPath)).sum
  }

  /** State dir → category: the path segment under the crawl root. */
  def category(root: String, dir: String): String =
    dir.stripPrefix(root + "/").takeWhile(_ != '/')

  def stateDirs(m: Snapshot.Manifest): Vector[String] =
    m.frontierAddDirs ++ m.frontierKeyDirs ++ m.frontierRemDirs ++
      m.seenDirs ++ m.seenKeyDirs :+ m.bloomDir

  /** Bytes of the files under `dir` that have a single link: a file the
    * engine carried forward from an older dir by hard link was not written.
    */
  def writtenBytes(dir: String): Long = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .filter(p => java.nio.file.Files.getAttribute(p, "unix:nlink") == 1)
      .map(java.nio.file.Files.size).sum
    finally walk.close()
  }

  /** Bytes the round that produced `m` wrote, per state category, with the
    * new manifest under "meta".
    */
  def bytesWritten(root: String, prev: Snapshot.Manifest,
      m: Snapshot.Manifest): Map[String, Long] = {
    val before = (stateDirs(prev) ++ prev.scheduleDirs ++ prev.metricsDirs).toSet
    val fresh = (stateDirs(m) ++ m.scheduleDirs ++ m.metricsDirs).distinct
      .filterNot(before).filter(d => new File(d).exists)
    fresh.groupMapReduce(category(root, _))(writtenBytes)(_ + _) +
      ("meta" -> new File(s"$root/meta/v${m.snapshotId}.json").length)
  }

  def failKinds(spark: SparkSession, res: CrawlResult): Map[String, Long] =
    res.attempts(spark).groupBy("failKind").count().collect()
      .map(r => Option(r.getString(0)).getOrElse("") -> r.getLong(1)).toMap
}

/** One wide scheduling round over a full frontier: every page of the
  * corpus is a seed, payloads are 256–320 px images. Fetch and landing
  * dominate; engine state work is one round against an empty seen set.
  * Forty pages per host is within every host's quota (40 or 100 at
  * quotaBoost 20), so the round schedules all 1,600 URLs whatever the
  * seed's mix of fast and slow hosts.
  */
final class CrawlWide(h: Harness) extends Workload(h) {
  import CrawlCommon._

  val spec: CorpusSpec = CorpusSpec(seed = h.seed, numHosts = 40,
    pagesPerHost = 40, imgBase = 256, imgVar = 65, quotaBoost = 20)
  val cfg: CrawlConfig = CrawlConfig(maxResults = Long.MaxValue, maxRounds = 1,
    numBuckets = 16)
  def probeSpec: CorpusSpec = spec

  // scheduling and failures do not depend on image size, so the oracle
  // runs on the small-image twin of the corpus
  private lazy val oracle = RefOracle.crawl(spec.copy(imgBase = 16, imgVar = 17),
    spec.allSeeds, cfg)
  private lazy val okSet = oracle.fetched.map(_.image_id).toSet
  private lazy val unfetched = spec.allSeeds.map(s => Canon.canonicalize(s.url))
    .filterNot(okSet).toIndexedSeq
  private var ops = 0
  private var lastFailKinds = Map.empty[String, Long]

  def prepare(s: SparkSession): Unit = {
    val n = CrawlEngine.synthSeeds(s, spec).count()
    require(n == spec.numHosts.toLong * spec.pagesPerHost, s"seed table has $n rows")
  }

  def warmUp(): Unit = {
    graft.Bench.rawFetchFor(4, 1.0, spec)
    val small = spec.copy(numHosts = 6)
    val dir = s"${h.work}/wide-warm"
    CrawlEngine.run(spark, small, CrawlEngine.synthSeeds(spark, small), cfg, dir)
    Fs.deleteLocalDir(new File(dir))
    oracle
  }

  def measure(seg: Segment, seconds: Double): Unit = {
    val t0 = System.nanoTime()
    while (ops == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      ops += 1
      val dir = s"${h.work}/wide-$ops"
      val (res, run) = h.timed(seg, "run", s"crawl_wide/run/$ops")(
        CrawlEngine.run(spark, spec, CrawlEngine.synthSeeds(spark, spec), cfg, dir))
      res.foreach { r =>
        run.items = r.totalScheduled
        val order = r.schedule(spark).select("round", "canonUrl").collect()
          .map(x => (x.getInt(0), x.getString(1))).toVector
        run.checkOk = h.check(s"crawl_wide/run/$ops/schedule",
          order == oracle.order && r.manifest.fetchedCount == okSet.size,
          s"${order.size} scheduled vs oracle ${oracle.order.size}; ok " +
            s"${r.manifest.fetchedCount} vs ${okSet.size}")
        val urls = lookupKeys(new SplittableRandom(SynthCorpus.mix(h.seed, ops)),
          oracle.fetched.map(_.image_id), unfetched)
        val (got, lk) = h.timed(seg, "lookup", s"crawl_wide/lookup/$ops")(
          lookup(spark, r, urls))
        lk.extra("dirs_scanned") = r.manifest.fetchedDirs.size
        got.foreach { g =>
          lk.extra("hits") = g._1.length
          lk.checkOk = checkLookup(h, s"crawl_wide/lookup/$ops", spec, urls, okSet, g)
        }
        if (seg.traced) lastFailKinds = failKinds(spark, r)
      }
      if (res.isEmpty) run.checkOk = false
      Fs.deleteLocalDir(new File(dir))
    }
  }

  def finish(): Unit = h.facts("fail_kinds") = lastFailKinds
}

/** A long crawl from one seed per host with failures, a hub page, 429
  * host deferrals, TTL and frequent compaction. The benchmark drives
  * round → commit → expire(3) → lookup itself; per-round engine overhead
  * dominates and the fetch layer is cheap.
  */
final class CrawlDeep(h: Harness) extends Workload(h) {
  import CrawlCommon._

  val spec: CorpusSpec = CorpusSpec(seed = h.seed, numHosts = 100,
    pagesPerHost = 400, failures = true, hubFanIn = true, rateLimitEvery = 9)
  val cfg: CrawlConfig = CrawlConfig(maxResults = Long.MaxValue, maxRounds = 1000,
    numBuckets = 16, ttlRounds = 24, compactEvery = 4)
  val seeds: Seq[Seed] = spec.defaultSeeds(spec.numHosts)
  def probeSpec: CorpusSpec = spec
  // rounds in one compaction cycle: with compactEvery = 4 the seen and the
  // frontier log each compact every third round, so any three consecutive
  // rounds hold one compaction of each, whatever round they start at
  val cycle: Int = cfg.compactEvery - 1
  val horizon = 16

  private val dir = s"${h.work}/deep"
  private lazy val oracle = RefOracle.crawl(spec, seeds, cfg.copy(maxRounds = horizon))
  private lazy val okAt = okRound(oracle)
  private lazy val corpusUrls = (0 until spec.numHosts).flatMap(hh =>
    (0 until spec.pagesPerHost).map(p => Canon.canonicalize(spec.pageUrl(hh, p))))
  private var m: Snapshot.Manifest = _
  private val roundCalls = scala.collection.mutable.Map.empty[Int, Call]

  def prepare(s: SparkSession): Unit = {
    val n = s.createDataFrame(seeds).count()
    require(n == seeds.size, s"seed table has $n rows")
  }

  def warmUp(): Unit = {
    okAt
    m = CrawlEngine.run(spark, spec, seeds, cfg.copy(maxRounds = 1), dir).manifest
  }

  def measure(seg: Segment, seconds: Double): Unit = {
    val t0 = System.nanoTime()
    do {
      for (_ <- 1 to cycle if !m.done && m.round + 1 < horizon) step(seg)
    } while ((System.nanoTime() - t0) / 1e9 < seconds && !m.done &&
      m.round + cycle < horizon)
  }

  private def step(seg: Segment): Unit = {
    val prev = m
    val r = prev.round + 1
    val (next, rc) = h.timed(seg, "round", s"crawl_deep/round/$r")(
      CrawlEngine.round(spark, spec, cfg, dir, prev))
    val nm = next.getOrElse(sys.error(s"round $r failed: ${rc.error}"))
    roundCalls(r) = rc
    h.timed(seg, "commit", s"crawl_deep/commit/$r")(Snapshot.commit(dir, nm))
    h.timed(seg, "expire", s"crawl_deep/expire/$r")(Snapshot.expire(dir, 3))
    m = nm
    rc.items = nm.totalScheduled - prev.totalScheduled
    rc.extra("compaction") = (nm.seenDirs ++ nm.frontierAddDirs)
      .exists(_.endsWith(s"/compact-r$r"))
    rc.extra("bytes_written") = bytesWritten(dir, prev, nm)
    val res = CrawlResult(dir, nm.round + 1, nm.totalScheduled, nm)
    val fetched = okAt.collect { case (u, rr) if rr <= r => u }.toIndexedSeq.sorted
    val unfetched = corpusUrls.filterNot(u => okAt.get(u).exists(_ <= r))
    val urls = lookupKeys(new SplittableRandom(SynthCorpus.mix(h.seed, r)),
      fetched, unfetched)
    val (got, lk) = h.timed(seg, "lookup", s"crawl_deep/lookup/$r")(
      lookup(spark, res, urls))
    lk.extra("dirs_scanned") = nm.fetchedDirs.size
    got.foreach { g =>
      lk.extra("hits") = g._1.length
      lk.checkOk = checkLookup(h, s"crawl_deep/lookup/$r", spec, urls,
        u => okAt.get(u).exists(_ <= r), g)
    }
  }

  def finish(): Unit = {
    val last = m.round
    val exact = RefOracle.crawl(spec, seeds, cfg.copy(maxRounds = last + 1))
    val res = CrawlResult(dir, last + 1, m.totalScheduled, m)
    val order = res.schedule(spark).select("round", "canonUrl").collect()
      .map(x => (x.getInt(0), x.getString(1))).toVector
    val byRound = order.groupBy(_._1)
    val oracleByRound = exact.order.groupBy(_._1)
    for ((r, c) <- roundCalls) {
      val ok = byRound.get(r) == oracleByRound.get(r)
      c.checkOk = c.checkOk && ok
      if (!ok) h.check(s"crawl_deep/round/$r/order", ok = false,
        s"${byRound.get(r).map(_.size)} vs oracle ${oracleByRound.get(r).map(_.size)}")
    }
    h.check("crawl_deep/order", order == exact.order,
      s"${order.size} scheduled vs oracle ${exact.order.size}")
    val seen = res.seen(spark).select("urlHash").collect().map(_.getLong(0)).toSet
    h.check("crawl_deep/seen", seen == exact.seen,
      s"${seen.size} seen vs oracle ${exact.seen.size}")
    h.check("crawl_deep/fetched_ok", m.fetchedCount == exact.fetched.size,
      s"${m.fetchedCount} ok fetches vs oracle ${exact.fetched.size}")
    val state = stateDirs(m).distinct
    val keyDirs = m.seenKeyDirs ++ m.frontierKeyDirs ++ m.frontierRemDirs
    h.facts("rounds") = last + 1
    h.facts("seen_urls") = seen.size
    h.facts("state_bytes") = state.map(treeBytes).sum + treeBytes(s"$dir/meta")
    h.facts("keylog_runs") = keyDirs.size
    h.facts("keylog_bytes") = keyDirs.map(treeBytes).sum
    h.facts("bloom_bytes") = treeBytes(m.bloomDir)
    h.facts("fail_kinds") = failKinds(spark, res)
  }
}
