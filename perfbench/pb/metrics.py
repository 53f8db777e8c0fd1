"""End-to-end metrics of one untraced run, from the harness's operation
records. Every workload reports the same four names; what an operation is
depends on the workload:

  workload        work unit   latency sample
  slot_catchup    slot        a tick that processed a slot
  dedup_ingest    document    one ingest call (path or bucketed index)
  analytics_mix   query       one query (build + write)

throughput_per_s is work units per second of operation time (stalled ticks
included). setup_s is the median of the run's session starts: the first is
cold (class loading, JIT), the median a warm re-setup in a loaded JVM; the
cold one is on the detail line. heap_after_gc_mb is the mean heap in use
right after the collections inside the measured window: the working set. latency_geomean_ms is the geometric mean of the latency samples:
the mix's queries and the two ingest backends differ by up to 60x, and a
median of so few unlike samples jumps between them from run to run."""
import math

from . import stats

UNITS = {
    "setup_s": "s",
    "heap_after_gc_mb": "MB",
    "throughput_per_s": "1/s",
    "latency_geomean_ms": "ms",
}


def _work(workload, op):
    if workload == "slot_catchup":
        return 1 if op.get("outcome") == "processed" else 0
    if workload == "dedup_ingest":
        return op["docs"]
    return 1


def _summary(ms):
    """Median, and the highest percentile with >= 10 samples beyond it
    when the sample is large enough for that to lie above the median."""
    out = {"n": len(ms), "p50": stats.median(ms)}
    p = stats.tail_percentile(len(ms))
    if p and p > 50:
        out[f"p{p}"] = stats.percentile(ms, p)
    return out


def end_to_end(result):
    """(metrics, detail): the named metrics, and the figures in each
    workload's own terms with their sample counts."""
    wl = result["workload"]
    measured = [o for o in result["ops"] if o["measured"] and o["ok"]]
    if not measured:
        raise RuntimeError("no operation completed inside the measured window")
    ms = [o["ms"] for o in measured if _work(wl, o)]
    rate = sum(_work(wl, o) for o in measured) / (sum(o["ms"] for o in measured) / 1000.0)
    m = {
        "setup_s": stats.median(result["setup_s"]),
        "heap_after_gc_mb": stats.mean(result["heap_after_gc"]),
        "throughput_per_s": rate,
        "latency_geomean_ms": math.exp(sum(math.log(x) for x in ms) / len(ms)),
    }
    detail = {"ops": len(measured), "setup_samples_s": result["setup_s"],
              "cold_setup_s": result["setup_s"][0],
              "peak_rss_mb": result["peak_rss_mb"],
              "live_heap_mb": result["live_heap_mb"],
              "heap_after_gc_n": len(result["heap_after_gc"]),
              "heap_after_gc_max_mb": max(result["heap_after_gc"])}
    if wl == "slot_catchup":
        detail.update(catchup_slots_per_s=rate, tick_ms=_summary(ms))
    elif wl == "dedup_ingest":
        for b in ("path", "bucketed"):
            ops = [o for o in measured if o["backend"] == b]
            detail[f"{b}_ingest_docs_per_s"] = (
                sum(o["docs"] for o in ops) / (sum(o["ms"] for o in ops) / 1000.0))
    else:
        ids = {o["id"] for o in measured}
        trig = [p["durations"]["triggerExecution"] for p in result["streams"]
                if p["op"] in ids and "triggerExecution" in p["durations"]]
        detail.update(
            mix_queries_per_min=60 * rate,
            query_s={k: v / 1000 for k, v in _summary(ms).items() if k != "n"},
            trigger_ms=_summary(trig) if trig else None,
            query_ms={q: stats.median([o["ms"] for o in measured if o["query"] == q])
                      for q in sorted({o["query"] for o in measured})})
    return m, detail
