"""Turns one run's raw records into the benchmark's metrics.

The JVM side (`perfbench/src`) writes `result.json` (every timed call,
set-up times, probes, end-of-run facts, output checks) and, for a traced
run, `spans.jsonl`. Everything below is arithmetic on those records.
"""
import re
import statistics

# end-to-end metrics: every workload emits every one of them
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("call_geomean_ms", "ms", "lower"),
    ("throughput_per_s", "1/s", "higher"),
    ("cpu_ms_per_item", "ms", "lower"),
    ("heap_peak_mb", "MB", "lower"),
]

# the timed analytics queries and their operators module; run.py hands
# this list to the JVM
QUERIES = {
    "q1_agg": "relationalops",
    "q_xml_struct": "xmlops",
    "dedup_simhash": "textops",
    "text_quality": "textops",
    "neardup_clusters": "textops",
    "embed_knn": "vectorops",
    "img_phash_neardup": "imageops",
    "video_frames": "mediaops",
    "stream_event_window": "streamingops",
}


def query_arg():
    """QUERIES as the JVM's --queries argument: name:module,..."""
    return ",".join(f"{q}:{m}" for q, m in sorted(QUERIES.items()))


MODULES = ["relationalops", "textops", "vectorops", "graphops", "imageops",
           "mediaops", "streamingops", "xmlops"]
CLUSTER_QUERIES = ["neardup_clusters"]
STATE_DIRS = ["frontier", "frontier_keys", "frontier_rem", "seen",
              "seen_keys", "bloom", "meta", "attempts"]

PER_LAYER = (
    [("synthcorpus.fetch_us_per_url", "us", "lower"),
     ("synthcorpus.raw_urls_per_s", "1/s", "higher"),
     ("canon.canonicalize_ns_per_url", "ns", "lower"),
     ("crawlengine.eff_vs_raw", "ratio", "higher")]
    + [(f"crawlengine.round_{k}", u, "lower") for k, u in [
        ("cpu_ms", "ms"), ("jobs", "count"), ("stages", "count"),
        ("tasks", "count"), ("sched_delay_ms", "ms"),
        ("shuffle_bytes", "B"), ("spill_bytes", "B"), ("input_bytes", "B"),
        ("driver_ms", "ms"), ("nonfetch_cpu_ms", "ms")]]
    + [("crawlengine.compaction_round_ms", "ms", "lower"),
       ("crawlengine.plain_round_ms", "ms", "lower"),
       ("crawlengine.fetch_failed_frac", "ratio", "lower"),
       ("crawlengine.fetch_transient", "count", "lower"),
       ("crawlengine.fetch_not_found", "count", "lower"),
       ("crawlengine.fetch_rate_limited", "count", "lower"),
       ("snapshot.commit_ms", "ms", "lower"),
       ("snapshot.expire_ms", "ms", "lower")]
    + [(f"state.bytes_written_per_round.{d}", "B", "lower") for d in STATE_DIRS]
    + [("state.bytes_per_url", "B", "lower"),
       ("keylog.runs", "count", "lower"),
       ("keylog.bytes", "B", "lower"),
       ("bloom.bytes", "B", "lower"),
       ("lookup.p50_ms", "ms", "lower"),
       ("lookup.dirs_scanned", "count", "lower"),
       ("lookup.jobs", "count", "lower"),
       ("lookup.driver_ms", "ms", "lower"),
       ("lookup.rows_read_per_hit", "count", "lower")]
    + [(f"{QUERIES[q]}.{q}.{k}", "ms", "lower")
       for q in sorted(QUERIES) for k in ("wall_ms", "cpu_ms")]
    + [(f"{m}.{k}", u, "lower") for m in MODULES
       for k, u in [("shuffle_bytes", "B"), ("spill_bytes", "B"),
                    ("jobs", "count")]]
    + [(f"graphops.{q}.cc_iters", "count", "lower") for q in CLUSTER_QUERIES]
    + [("spark.gc_ms", "ms", "lower"),
       ("host.busy_pct", "%", "lower"),
       ("host.steal_pct", "%", "lower"),
       ("host.raw_call_geomean_ms", "ms", "lower")]
    + [(f"trace_overhead.{n}", u, "lower") for n, u, _ in END_TO_END]
)

PERCENTILES = (50, 75, 90, 95, 99)


def tail_percentile(n):
    """Highest reportable percentile for n samples: at least ten samples
    must lie beyond it. None when even the median has fewer."""
    ok = [p for p in PERCENTILES if n * (100 - p) / 100.0 >= 10]
    return max(ok) if ok else None


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    return statistics.geometric_mean(xs) if xs else 0.0


def steal_free(ms, ticks):
    """Wall time net of hypervisor steal: the share of busy CPU ticks the
    hypervisor gave to other tenants is taken out of the interval."""
    busy = ticks["busy"]
    return ms * (1.0 - ticks["steal"] / busy) if busy > 0 else ms


def host_pct(seg):
    """(busy %, steal %) of all CPU ticks across a segment's window."""
    t = seg["ticks"]
    if t["total"] <= 0:
        return 0.0, 0.0
    return 100.0 * t["busy"] / t["total"], 100.0 * t["steal"] / t["total"]


def _round_of(label):
    return int(label.rsplit("/", 1)[1])


def primary_calls(workload, calls, wall=steal_free):
    """(latencies ms, items, cpu ms) of the workload's primary call, with
    latencies net of steal unless `wall` says otherwise.

    crawl_wide: one `CrawlEngine.run` over the full frontier (items = URLs
    scheduled). crawl_deep: one step = round + commit + expire + lookup
    (items = URLs the round scheduled). analytics: one query (items = 1),
    as the median of each query's calls across the window's passes, so a
    window of several passes weighs every query once.
    """
    if workload == "crawl_wide":
        runs = [c for c in calls if c["kind"] == "run"]
        return ([wall(c["wall_ms"], c["ticks"]) for c in runs],
                sum(c["items"] for c in runs),
                sum(c["cpu_ms"] for c in runs))
    if workload == "crawl_deep":
        steps = {}
        for c in calls:
            s = steps.setdefault(_round_of(c["label"]), [0.0, 0, 0.0])
            s[0] += wall(c["wall_ms"], c["ticks"])
            s[2] += c["cpu_ms"]
            if c["kind"] == "round":
                s[1] += c["items"]
        return ([s[0] for s in steps.values()],
                sum(s[1] for s in steps.values()),
                sum(s[2] for s in steps.values()))
    by_query = {}
    for c in calls:
        if c["kind"] == "query":
            by_query.setdefault(c["extra"]["query"], []).append(c)
    return ([median([wall(c["wall_ms"], c["ticks"]) for c in qs])
             for qs in by_query.values()], len(by_query),
            sum(median([c["cpu_ms"] for c in qs]) for qs in by_query.values()))


def end_to_end(workload, seg):
    lat, items, cpu = primary_calls(workload, seg["calls"])
    busy_s = sum(lat) / 1000.0
    return {
        "setup_s": median([steal_free(s["s"], s["ticks"]) for s in seg["setups"]]),
        # the calls of one window differ in kind (nine queries; plain and
        # compacting rounds), so their geometric mean, not a median that
        # jumps between neighbouring queries, is the central value
        "call_geomean_ms": geomean(lat),
        "throughput_per_s": items / busy_s if busy_s > 0 else 0.0,
        "cpu_ms_per_item": cpu / items if items else 0.0,
        "heap_peak_mb": max((c["heap_peak_mb"] for c in seg["calls"]), default=0.0),
    }


def union_ms(intervals, lo, hi):
    """Length of the union of [start, end] intervals clipped to [lo, hi]."""
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Adds `self_ms` to every span: its duration minus the part of that
    interval its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    for s in spans:
        ch = [(c["start_ms"], c["end_ms"]) for c in kids.get(s["id"], [])]
        s["self_ms"] = (s["end_ms"] - s["start_ms"]) - union_ms(
            ch, s["start_ms"], s["end_ms"])
    return kids


def per_layer(result, spans, e2e_untraced, e2e_traced):
    workload = result["workload"]
    seg = next(s for s in result["segments"] if s["traced"])
    calls = seg["calls"]
    facts = result.get("facts", {})
    out = {n: 0.0 for n, _, _ in PER_LAYER}
    kids = self_times(spans)
    by_label = {s["name"]: s for s in spans if s["kind"] == "call"}

    def jobs_of(call):
        return [j for j in kids.get(by_label[call["label"]]["id"], [])
                if j["kind"] == "job"]

    def stages_of(job):
        return [s for s in kids.get(job["id"], []) if s["kind"] == "stage"]

    def stage_sum(call, key):
        return sum(s[key] for j in jobs_of(call) for s in stages_of(j))

    def wall(call):
        return steal_free(call["wall_ms"], call["ticks"])

    probes = seg["probes"]
    out["synthcorpus.fetch_us_per_url"] = probes["fetch_us_per_url"]
    out["synthcorpus.raw_urls_per_s"] = probes["raw_urls_per_s"]
    out["canon.canonicalize_ns_per_url"] = probes["canonicalize_ns_per_url"]
    out["spark.gc_ms"] = seg["gc_ms"]
    out["host.busy_pct"], out["host.steal_pct"] = host_pct(seg)
    out["host.raw_call_geomean_ms"] = geomean(
        primary_calls(workload, calls, wall=lambda ms, _: ms)[0])
    for n, _, _ in END_TO_END:
        out[f"trace_overhead.{n}"] = e2e_traced[n] - e2e_untraced[n]

    rounds = [c for c in calls if c["kind"] in ("round", "run")]
    if rounds:
        fetch_ms = probes["fetch_us_per_url"] / 1000.0
        out["crawlengine.eff_vs_raw"] = (
            e2e_traced["throughput_per_s"] / probes["raw_urls_per_s"])
        for key, f in [
                ("cpu_ms", lambda c: c["cpu_ms"]),
                ("jobs", lambda c: len(jobs_of(c))),
                ("stages", lambda c: sum(len(stages_of(j)) for j in jobs_of(c))),
                ("tasks", lambda c: stage_sum(c, "tasks")),
                ("sched_delay_ms", lambda c: stage_sum(c, "sched_delay_ms")),
                ("shuffle_bytes", lambda c: stage_sum(c, "shuffle_write_bytes")),
                ("spill_bytes", lambda c: stage_sum(c, "spill_bytes")),
                ("input_bytes", lambda c: stage_sum(c, "input_bytes")),
                ("driver_ms", lambda c: by_label[c["label"]]["self_ms"]),
                ("nonfetch_cpu_ms", lambda c: c["cpu_ms"] - c["items"] * fetch_ms)]:
            out[f"crawlengine.round_{key}"] = median([f(c) for c in rounds])
        comp = [wall(c) for c in rounds if c["extra"].get("compaction")]
        plain = [wall(c) for c in rounds if not c["extra"].get("compaction")]
        out["crawlengine.compaction_round_ms"] = median(comp)
        out["crawlengine.plain_round_ms"] = median(plain)
        for d in STATE_DIRS:
            out[f"state.bytes_written_per_round.{d}"] = median(
                [c["extra"].get("bytes_written", {}).get(d, 0) for c in rounds])
        kinds = facts.get("fail_kinds", {})
        total = sum(kinds.values())
        failed = total - kinds.get("", 0)
        out["crawlengine.fetch_failed_frac"] = failed / total if total else 0.0
        out["crawlengine.fetch_transient"] = kinds.get("transient", 0)
        out["crawlengine.fetch_not_found"] = kinds.get("permanent", 0)
        out["crawlengine.fetch_rate_limited"] = kinds.get("ratelimited", 0)
    for kind in ("commit", "expire"):
        xs = [wall(c) for c in calls if c["kind"] == kind]
        out[f"snapshot.{kind}_ms"] = median(xs)
    if facts.get("seen_urls"):
        out["state.bytes_per_url"] = facts["state_bytes"] / facts["seen_urls"]
        out["keylog.runs"] = facts["keylog_runs"]
        out["keylog.bytes"] = facts["keylog_bytes"]
        out["bloom.bytes"] = facts["bloom_bytes"]
    lookups = [c for c in calls if c["kind"] == "lookup"]
    if lookups:
        out["lookup.p50_ms"] = median([wall(c) for c in lookups])
        out["lookup.dirs_scanned"] = median([c["extra"]["dirs_scanned"] for c in lookups])
        out["lookup.jobs"] = median([len(jobs_of(c)) for c in lookups])
        out["lookup.driver_ms"] = median([by_label[c["label"]]["self_ms"] for c in lookups])
        hits = sum(c["extra"].get("hits", 0) for c in lookups)
        rows = sum(stage_sum(c, "input_records") for c in lookups)
        out["lookup.rows_read_per_hit"] = rows / hits if hits else 0.0

    queries = [c for c in calls if c["kind"] == "query"]
    if queries:
        passes = len({c["label"].rsplit("/", 1)[1] for c in queries})
        for q in QUERIES:
            mine = [c for c in queries if c["extra"]["query"] == q]
            out[f"{QUERIES[q]}.{q}.wall_ms"] = median([wall(c) for c in mine])
            out[f"{QUERIES[q]}.{q}.cpu_ms"] = median([c["cpu_ms"] for c in mine])
        for c in queries:
            q = c["extra"]["query"]
            iters = set()
            for j in jobs_of(c):
                desc = j.get("desc") or ""
                # GraphOps labels its own jobs "cc: iter N ..."
                mod = "graphops" if desc.startswith("cc:") else QUERIES[q]
                m = re.match(r"cc: iter (\d+)", desc)
                if m:
                    iters.add(int(m.group(1)))
                st = stages_of(j)
                out[f"{mod}.shuffle_bytes"] += sum(s["shuffle_write_bytes"] for s in st) / passes
                out[f"{mod}.spill_bytes"] += sum(s["spill_bytes"] for s in st) / passes
                out[f"{mod}.jobs"] += 1.0 / passes
            if q in CLUSTER_QUERIES:
                key = f"graphops.{q}.cc_iters"
                out[key] = max(out[key], float(max(iters, default=0)))
    return out


UNITS = {n: u for n, u, _ in END_TO_END + PER_LAYER}


def emit(values):
    """The result line's `metrics` object: every value with its unit."""
    return {n: {"value": v, "unit": UNITS[n]} for n, v in values.items()}


def ops(result):
    """(attempted, failed): every timed call is one op; it fails if it
    threw or its output check failed."""
    calls = [c for s in result["segments"] for c in s["calls"]]
    failed = sum(1 for c in calls if c["error"] or not c["check_ok"])
    return len(calls), failed
