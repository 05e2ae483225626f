"""Pure functions that turn a workload's raw results into metrics.

Kept free of I/O except `read_source_log`, so `test_harness.py` can
check them on synthetic inputs.
"""
import json
import os
import re
import statistics


def percentile(values, q):
    """Linear-interpolated percentile (0 <= q <= 100) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def summary(values, qs=(50, 75, 90)):
    """Percentiles with the sample count and how many samples lie above
    each percentile (a percentile is trustworthy with >= 10 beyond it)."""
    out = {"n": len(values)}
    for q in qs:
        p = percentile(values, q)
        out["p%d" % q] = p
        out["beyond_p%d" % q] = sum(1 for v in values if v > p)
    return out


def self_times(spans):
    """Total self time per span name, in ms: each span's duration minus
    the union of the intervals its direct children cover (clipped to it)."""
    children = {}
    for i, s in enumerate(spans):
        if s["parent"] >= 0:
            children.setdefault(s["parent"], []).append(i)
    out = {}
    for i, s in enumerate(spans):
        start, end = s["start_ms"], s["end_ms"]
        covered = union_length(
            [(spans[c]["start_ms"], spans[c]["end_ms"]) for c in children.get(i, [])],
            start, end)
        out[s["name"]] = out.get(s["name"], 0.0) + (end - start) - covered
    return out


def union_length(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def read_source_log(checkpoint):
    """File name -> batch id, from a file source's metadata log
    (`<checkpoint>/sources/0/<n>` and compacted `<n>.compact` files:
    a version line, then one JSON entry per file)."""
    log = os.path.join(checkpoint, "sources", "0")
    out = {}
    if not os.path.isdir(log):
        return out
    for name in os.listdir(log):
        if name.startswith(".") or not re.fullmatch(r"\d+(\.compact)?", name):
            continue
        with open(os.path.join(log, name)) as f:
            lines = f.read().splitlines()
        for line in lines[1:]:
            if line.strip():
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def batch_end_ms(batch):
    return batch["start_ms"] + batch["durations"]["triggerExecution"]


def freshness(releases, batches, file_batch):
    """Per released file: end of the batch that committed it minus the
    time the file was due. Files no batch committed are omitted."""
    ends = {b["batch"]: batch_end_ms(b) for b in batches}
    out = []
    for r in releases:
        b = file_batch.get(r["file"])
        if b is not None and b in ends:
            out.append(ends[b] - r["due_ms"])
    return out


def backlog_max(releases, batches, file_batch):
    """Most files released but not yet committed, seen at any release."""
    ends = {b["batch"]: batch_end_ms(b) for b in batches}
    committed_at = sorted(ends[file_batch[r["file"]]] for r in releases
                          if file_batch.get(r["file"]) in ends)
    best = 0
    for k, r in enumerate(sorted(releases, key=lambda r: r["moved_ms"])):
        done = sum(1 for t in committed_at if t <= r["moved_ms"])
        best = max(best, k + 1 - done)
    return best


FRAME = re.compile(r"graft\.([a-z]+)\.([A-Za-z0-9_]+?)\$*\.(?:\$anonfun\$)?([A-Za-z0-9_]+)")


def site_of(details):
    """Innermost engine frame of a call-site stack, as `layer.Module.fn`
    (e.g. `ingest.IngestWriter.promote`); None when no engine frame."""
    if not details:
        return None
    for line in details.splitlines():
        m = FRAME.search(line)
        if m:
            return "%s.%s.%s" % m.groups()
    return None


def attribute(jobs, sqls, stages, spans):
    """Executor task seconds per module.

    A job's module is the innermost engine frame of its SQL execution's
    call site (found through the job's `spark.sql.execution.id`, then the
    root execution), else of its last stage's call site, else the name of
    the (non-root) span it ran under. Other jobs are `unattributed`.
    Each stage counts once, for the first job that lists it."""
    sql_by_id = {s["id"]: s for s in sqls}

    def sql_site(exec_id):
        seen = set()
        while exec_id is not None and exec_id not in seen:
            seen.add(exec_id)
            s = sql_by_id.get(exec_id)
            if s is None:
                return None
            site = site_of(s["details"])
            if site:
                return site
            exec_id = s.get("root")
        return None

    owner = {}
    for job in sorted(jobs, key=lambda j: j["id"]):
        for st in job["stages"]:
            owner.setdefault(st, job)
    modules = {}
    for job in jobs:
        site = sql_site(job.get("exec_id")) or site_of(job.get("details"))
        sp = job.get("span")
        if site is None and sp is not None and sp < len(spans) and spans[sp]["parent"] >= 0:
            site = spans[sp]["name"]
        modules[job["id"]] = site or "unattributed"
    out = {}
    for st in stages:
        job = owner.get(st["id"])
        mod = modules[job["id"]] if job else "unattributed"
        out[mod] = out.get(mod, 0.0) + st["run_ms"] / 1000.0
    return out


def driver_gap_ms(units, jobs):
    """Per unit of work (a batch or query interval), its wall time not
    covered by any Spark job, in ms."""
    ivs = [(j["start_ms"], j["end_ms"]) for j in jobs if j["end_ms"] is not None]
    return [(b - a) - union_length(ivs, a, b) for a, b in units]


def host_factor(samples, lo_ms, hi_ms, ref_s):
    """Host-speed factor over the window [lo_ms, hi_ms], from the probe
    samples `(end_ms, cpu_s, busy, steal)` that ended in it (`busy` and
    `steal` are cumulative CPU jiffies of the machine). Returns
    `(factor, speed, delivered, n)`: `speed` = `ref_s` over the median
    chunk CPU time, `delivered` = busy / (busy + steal) over the window,
    the share of the CPU time the machine's threads wanted that the
    hypervisor gave them, and `factor` = speed x delivered. A timing
    times the factor reads as at the reference speed with no steal."""
    xs = [x for x in samples if lo_ms <= x[0] <= hi_ms]
    if len(xs) < 2:
        raise ValueError("fewer than 2 host probe samples in the measured window")
    speed = ref_s / statistics.median(x[1] for x in xs)
    busy, steal = xs[-1][2] - xs[0][2], xs[-1][3] - xs[0][3]
    delivered = busy / (busy + steal) if busy + steal > 0 else 1.0
    return speed * delivered, speed, delivered, len(xs)


def median(xs):
    return statistics.median(xs) if xs else 0.0
