#!/usr/bin/env python3
"""Sink benchmark: one workload, one JVM, one JSON result line.

    python3 perfbench/run.py --workload drain_parquet --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. The first run compiles the engine and the
harness (`perfbench/build.sbt`, output under `.bench_build/`); later runs
reuse the build while the sources are unchanged. Each run works in its
own run root under `.bench_run/`, deleted before exit. The last stdout
line is `{"correct", "attempted", "failed", "metrics"}`: the end-to-end
metrics with `--trace 0`, the per-layer metrics with `--trace 1`.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import harness as h  # noqa: E402

WORKLOADS = ("drain_parquet", "trickle_wire_avro")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "perfbench", "scala-2.13", "classes")
# A run must end within 180 s; this leaves room for the build check,
# metric derivation and clean-up. A killed JVM is a failed run.
JVM_TIMEOUT_S = 165
# Host-speed reference. On a shared host the speed of a core drifts by
# about 15% either way over tens of seconds: medians over 20 s of a fixed
# single-threaded loop spread 0.28 IQR/median with the machine otherwise
# idle, more than any bound a raw timing could keep; and at times the
# hypervisor withholds CPU time the vCPUs want (steal). While the
# workload runs, a thread times a fixed chunk of interpreter work every
# 0.1 s in its own CPU time, so waiting behind the workload's threads
# does not count, and reads the machine's busy and steal CPU time.
# Gated timings are scaled to the speed at which a chunk takes
# PROBE_REF_S (about the median on the 4-vCPU host the bounds were set
# on) with no steal, or for steal alone where a timing does not follow
# the cores' speed; the raw timings are reported beside them.
PROBE_CHUNK = 100000
PROBE_PERIOD_S = 0.1
PROBE_REF_S = 0.009
ADD_OPENS = ["java.base/" + p + "=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def sources_digest():
    """Digest of everything the build compiles; None if the engine is absent."""
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        return None
    md = hashlib.sha256()
    for base in (engine, os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                if f.endswith((".scala", ".properties")):
                    p = os.path.join(d, f)
                    md.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        md.update(fh.read())
    with open(os.path.join(HERE, "build.sbt"), "rb") as fh:
        md.update(fh.read())
    return md.hexdigest()


def build():
    digest = sources_digest()
    if digest is None:
        raise RuntimeError("no engine sources under src/main/scala: run from the repository root")
    stamp = os.path.join(BUILD, "perfbench.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read() == digest:
        return
    log("compiling engine and harness (sbt)")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=840)
    if r.returncode != 0:
        raise RuntimeError("sbt compile failed")
    with open(stamp, "w") as fh:
        fh.write(digest)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(args, run_root, raw):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        raise RuntimeError("SPARK_HOME must name a Spark installation")
    tmp = os.path.join(run_root, "tmp")
    os.makedirs(tmp)
    cmd = ["java"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", o]
    cmd += ["-Xmx3g", "-Djava.io.tmpdir=" + tmp,
            "-Dlog4j.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*"),
            "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--root", run_root, "--out", raw, "--cores", str(args.cores)]
    proc = subprocess.Popen(cmd, cwd=run_root, stdout=sys.stderr, stderr=sys.stderr)
    try:
        proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise RuntimeError("workload JVM exceeded %d s and was killed" % JVM_TIMEOUT_S)
    return proc.returncode


def cpu_jiffies():
    """(busy, steal) CPU time of the machine so far, in jiffies summed over
    its CPUs; (0, 0) where /proc/stat is missing."""
    try:
        with open("/proc/stat") as fh:
            v = [int(x) for x in fh.readline().split()[1:9]]
    except OSError:
        return 0, 0
    # user nice system idle iowait irq softirq steal
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


def probe(stop, samples):
    """Until `stop` is set, append `(end_ms, cpu_s, busy, steal)` for one
    fixed chunk of work, then sleep PROBE_PERIOD_S."""
    while not stop.is_set():
        c = time.thread_time()
        x = 0
        for i in range(PROBE_CHUNK):
            x += i * i
        samples.append((time.time() * 1000.0, time.thread_time() - c) + cpu_jiffies())
        stop.wait(PROBE_PERIOD_S)


# ---- metrics -------------------------------------------------------------

def progress_ms(batches, key):
    return [b["durations"].get(key, 0) for b in batches]


def measured(run):
    """A sink run's batches after its warm-up: the drain's leading warm
    batches; the trickle's batches up to the one that committed its last
    warm file."""
    if "warm_files" in run:
        file_batch = h.read_source_log(run["checkpoint"])
        warm = max(file_batch.get(r["file"], -1) for r in run["releases"][:run["warm_files"]])
        return [b for b in run["batches"] if b["batch"] > warm]
    return run["batches"][run["warm_batches"]:]


def end_to_end(workload, raw, probes):
    """The end-to-end metrics plus report-only extras, with sample counts.
    `probes` are the host-speed samples taken while the JVM ran."""
    plain, counts = raw["plain"], raw["counts"]
    setup = raw["setup_s"]
    m, extra = {}, {}
    batches = plain["batches"]
    trig = progress_ms(batches, "triggerExecution")
    s = h.summary(trig)
    extra["batch_ms_p50"] = (s["p50"], "ms", s["n"])
    extra["batch_ms_p75"] = (s["p75"], "ms", s["n"])
    extra["objects_per_batch"] = (counts["objects"] / max(len(batches), 1), "count",
                                  len(batches))
    if workload == "drain_parquet":
        # the leading batches warm the pipeline up: set-up, not drain
        w = plain["warm_batches"]
        warm_end = h.batch_end_ms(batches[w - 1])
        warmup_s = (warm_end - plain["start_ms"]) / 1000.0
        timed = measured(plain)
        window = (warm_end, h.batch_end_ms(timed[-1]))
        wall_s = (window[1] - window[0]) / 1000.0
        lat = progress_ms(timed, "triggerExecution")
        rate = plain["measured_records"] / wall_s
        # back-to-back batches keep the vCPUs busy: the time follows the
        # cores' speed as well as steal
        follows_core_speed = True
        extra["input_mb_per_s"] = (
            raw["source_bytes"] * len(timed) / len(batches) / 1048576.0 / wall_s,
            "MB/s", len(timed))
    else:
        warmup_s = raw["warmup_s"]
        file_batch = h.read_source_log(plain["checkpoint"])
        lat = h.freshness(plain["releases"][plain["warm_files"]:], batches, file_batch)
        f = h.summary(lat) if lat else {"p50": 0, "p90": 0, "n": 0}
        extra["freshness_ms_p50"] = (f["p50"], "ms", f["n"])
        extra["freshness_ms_p90"] = (f["p90"], "ms", f["n"])
        extra["backlog_max_files"] = (
            h.backlog_max(plain["releases"], batches, file_batch), "count",
            len(plain["releases"]))
        lags = [r["moved_ms"] - r["due_ms"] for r in plain["releases"]]
        extra["generator_lag_ms_max"] = (max(lags) if lags else 0.0, "ms", len(lags))
        # the sink's own throughput: records its measured batches
        # committed over the time they took, not over the generator's
        # release schedule (numInputRows counts each rescan of a batch)
        timed = measured(plain)
        window = (timed[0]["start_ms"], h.batch_end_ms(timed[-1]))
        ids = {b["batch"] for b in timed}
        records = sum(n for f, n in raw["committed_per_file"].items() if file_batch.get(f) in ids)
        busy_ms = sum(progress_ms(timed, "triggerExecution"))
        rate = records * 1000.0 / busy_ms if busy_ms else 0.0
        # one small batch is mostly driver-side waiting (planning, job
        # submission, file renames); its time did not follow the cores'
        # speed, but steal stops every thread
        follows_core_speed = False
    log("latency samples ms: %s" % " ".join("%.0f" % x for x in lat))
    s = h.summary(lat or [0.0])
    factor, speed, delivered, n_probe = h.host_factor(probes, window[0], window[1], PROBE_REF_S)
    if not follows_core_speed:
        factor = delivered
    m["latency_ms_p50_host_adj"] = (s["p50"] * factor, "ms", len(lat))
    m["latency_ms_p75_host_adj"] = (s["p75"] * factor, "ms", len(lat))
    m["records_per_s_host_adj"] = (rate / factor, "1/s", len(timed))
    extra["latency_ms_p50"] = (s["p50"], "ms", len(lat))
    extra["latency_ms_p75"] = (s["p75"], "ms", len(lat))
    extra["records_per_s"] = (rate, "1/s", len(timed))
    extra["host_factor"] = (factor, "ratio", n_probe)
    extra["host_speed"] = (speed, "ratio", n_probe)
    extra["host_cpu_delivered"] = (delivered, "ratio", n_probe)
    m["records_per_object"] = (counts["committed"] / max(counts["objects"], 1), "count",
                               counts["objects"])
    m["heap_retained_mb"] = (raw["heap_retained_mb"], "MB", 1)
    extra["heap_peak_mb"] = (raw["heap_peak_mb"], "MB", 1)
    log("set-up repetitions s: %s; warm-up s: %.2f" % (" ".join("%.2f" % x for x in setup), warmup_s))
    m["setup_s"] = (h.median(setup) + warmup_s, "s", len(setup))
    extra["failed_ratio"] = (raw["failed"] / max(raw["attempted"], 1), "ratio",
                             raw["attempted"])
    return m, extra


LAYER_SITES = {
    "ingest.IngestWriter.write_stage_s": ("ingest.IngestWriter.write", "ingest.IngestWriter.writeKVH"),
    "ingest.IngestWriter.promote_stage_s": ("ingest.IngestWriter.promote",),
    "ingest.AvroGroupWriter.stage_s": ("ingest.AvroGroupWriter.",),
    "ingest.CommitManifest.write_stage_s": ("ingest.CommitManifest.",),
    "ingest.WireFormat.decode_stage_s": ("ingest.WireFormat.",),
    "ingest.Dlq.write_stage_s": ("ingest.Dlq.write",),
    "ingest.CommitManifest.read_s": ("ingest.Compaction.readCommitted",),
    "ingest.Compaction.scan_stage_s": ("lake.aggregate",),
}

SELF_SPANS = {
    "streaming.Gates.self_s": "streaming.Gates.all",
    "ingest.WireFormat.route_self_s": "ingest.WireFormat.route",
    "ingest.SchemaEvolution.resolve_self_s": "ingest.SchemaEvolution.resolve",
    "ingest.Ingest.run_self_s": "ingest.Ingest.run",
}


def per_layer(workload, raw):
    """Per-layer metrics from the traced replica (spans, jobs, stages) and
    the untraced run's StreamingQueryProgress."""
    plain, tr = raw["plain"], raw["traced"]
    spans, jobs, stages, sqls = tr["spans"], tr["jobs"], tr["stages"], tr["sqls"]
    m = {}
    for key in ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "getBatch"):
        xs = progress_ms(measured(plain), key)
        m["streaming.%s_ms_p50" % key] = (h.percentile(xs, 50), "ms", len(xs))

    roots = [i for i, s in enumerate(spans) if s["name"] == "streaming.batch"]
    units = [(spans[i]["start_ms"], spans[i]["end_ms"]) for i in roots]
    root_of = {}
    for i, s in enumerate(spans):
        j = i
        while spans[j]["parent"] >= 0:
            j = spans[j]["parent"]
        root_of[i] = j
    batch_roots = set(roots)
    in_batch = [j for j in jobs if root_of.get(j.get("span")) in batch_roots]
    m["spark.jobs_per_batch"] = (len(in_batch) / max(len(roots), 1), "count", len(roots))
    gaps = h.driver_gap_ms(units, jobs)
    m["spark.driver_gap_ms_per_batch"] = (sum(gaps) / max(len(gaps), 1), "ms", len(gaps))

    selfs = h.self_times(spans)
    for metric, name in SELF_SPANS.items():
        m[metric] = (selfs.get(name, 0.0) / 1000.0, "s", sum(1 for s in spans if s["name"] == name))
    counts = raw["counts"]
    drain = workload == "drain_parquet"
    m["streaming.Gates.keep_ratio"] = (counts["committed"] / counts["generated"] if drain else 0.0,
                                       "ratio", counts.get("generated", 0))

    by_module = h.attribute(jobs, sqls, stages, spans)
    total = sum(by_module.values())
    for mod, t in sorted(by_module.items(), key=lambda kv: -kv[1]):
        log("executor time %-44s %9.3f s  %5.1f%%" % (mod, t, 100.0 * t / total if total else 0))
    for name, ms in sorted(selfs.items(), key=lambda kv: -kv[1]):
        log("span self time %-43s %9.3f s" % (name, ms / 1000.0))
    for metric, prefixes in LAYER_SITES.items():
        v = sum(t for mod, t in by_module.items() if mod.startswith(prefixes))
        m[metric] = (v, "s", len(stages))
    m["trace.unattributed_share"] = (by_module.get("unattributed", 0.0) / total if total else 0.0,
                                     "ratio", len(stages))

    tc = raw.get("traced_counts", {})
    trickle = workload == "trickle_wire_avro"
    m["ingest.WireFormat.dlq_rows"] = (tc.get("dlq_rows", 0) if trickle else 0, "count", 1)
    m["ingest.WireFormat.corrupt_rows"] = (tc.get("corrupt_rows", 0) if trickle else 0, "count", 1)
    m["ingest.Rotation.file_groups"] = (tc.get("objects", 0), "count", 1)
    sidecars = 3 if trickle else 1
    m["ingest.IngestWriter.objects"] = (tc.get("objects", 0) * sidecars, "count", 1)
    m["ingest.IngestWriter.bytes_written_mb"] = (tc.get("bytes", 0) / 1048576.0, "MB", 1)
    m["ingest.CommitManifest.generations"] = (tc.get("generations", 0), "count", 1)

    tb = tr["batches"]
    add = sum(progress_ms(tb, "addBatch"))
    named = sum(s["end_ms"] - s["start_ms"] for s in spans
                if s["parent"] >= 0 and s["parent"] in batch_roots)
    m["trace.named_share_of_addBatch"] = (named / add if add else 0.0, "ratio", len(tb))
    busy = (sum(progress_ms(measured(tr), "triggerExecution")) -
            sum(progress_ms(measured(plain), "triggerExecution"))) / 1000.0
    m["trace.overhead_s"] = (busy, "s", len(tb))
    # committed-view reads of the drained lake (the trickle lake has no manifest)
    reads = tr.get("reads", [])
    for r in reads:
        log("read %-46s %9.1f ms  %d objects" % (r["name"], r["ms"], r["objects_read"]))
    rc = [s for s in spans if s["name"] == "ingest.Compaction.readCommitted"]
    m["ingest.Compaction.readCommitted_driver_s"] = (
        sum(s["end_ms"] - s["start_ms"] for s in rc) / 1000.0, "s", len(rc))
    objects_read = [r["objects_read"] for r in reads]
    m["ingest.Compaction.objects_read"] = (
        sum(objects_read) / len(reads) if reads else 0.0, "count", len(reads))
    m["ingest.Compaction.pruned_ratio"] = (
        sum(objects_read) / (len(reads) * max(counts["objects"], 1)) if reads else 0.0,
        "ratio", len(reads))
    for key, stage_key, scale in (("spark.task_s", "run_ms", 1e3), ("spark.gc_s", "gc_ms", 1e3),
                                  ("spark.shuffle_write_mb", "shuffle_write_bytes", 1048576.0),
                                  ("spark.spill_mb", "spill_bytes", 1048576.0)):
        unit = "s" if key.endswith("_s") else "MB"
        m[key] = (sum(s[stage_key] for s in stages) / scale, unit, len(stages))
    return m


# ---- main ------------------------------------------------------------------

def tree_bytes(path):
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total


def report(name, metrics):
    """One line per metric on stdout: name, value, unit, sample count."""
    for k in sorted(metrics):
        v, unit, n = metrics[k]
        print("%-52s %14.4f %-6s n=%d" % (name + "." + k, v, unit, n), flush=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=cores())
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        import unittest
        suite = unittest.defaultTestLoader.discover(HERE, pattern="test_*.py")
        ok = unittest.TextTestRunner(verbosity=2).run(suite).wasSuccessful()
        return 0 if ok else 1
    if not args.workload:
        ap.error("--workload is required")

    try:
        build()
    except Exception as e:  # noqa: BLE001 - any build failure ends the run
        log("build failed: %s" % e)
        return 2

    runs = os.path.join(ROOT, ".bench_run")
    run_root = os.path.join(runs, "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    raw_path = os.path.join(run_root, "raw.json")
    problems, raw, metrics = [], None, {}
    os.makedirs(run_root)
    stop, probes = threading.Event(), []
    prober = threading.Thread(target=probe, args=(stop, probes), daemon=True)
    try:
        t0 = time.time()
        prober.start()
        try:
            rc = run_jvm(args, run_root, raw_path)
        finally:
            stop.set()
            prober.join()
        log("workload JVM exited %d after %.1f s" % (rc, time.time() - t0))
        with open(raw_path) as fh:
            raw = json.load(fh)
        e2e, extra = end_to_end(args.workload, raw, probes)
        report(args.workload, e2e)
        report(args.workload, extra)
        metrics = per_layer(args.workload, raw) if args.trace else e2e
        if args.trace:
            report(args.workload, metrics)
        if rc != 0:
            problems.append("workload JVM exit code %d" % rc)
    except Exception as e:  # noqa: BLE001 - reported as a failed run
        problems.append("%s: %s" % (type(e).__name__, e))
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
        if os.path.isdir(runs) and not os.listdir(runs):
            os.rmdir(runs)
        left = tree_bytes(run_root) if os.path.exists(run_root) else 0
        log("run root removed; leftover bytes: %d" % left)
        if left:
            problems.append("%d bytes left in the run root" % left)

    checks = raw["checks"] if raw else []
    for c in checks:
        if not c["ok"]:
            problems.append("check %s failed: %s" % (c["name"], c["detail"]))
    log("%d checks, %d failed" % (len(checks), sum(1 for c in checks if not c["ok"])))
    for p in problems:
        log("FAIL " + p)
    correct = not problems and bool(checks)
    attempted = max(int(raw["attempted"]) if raw else 1, 1)
    failed = int(raw["failed"]) if raw else 1
    if not correct and failed == 0:
        failed = 1
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in sorted(metrics.items())},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
