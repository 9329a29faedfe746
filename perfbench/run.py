#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload link_skewed --seed 1 --seconds 12 --trace 0

Builds the library and the benchmark from source (perfbench/build.py), runs
the JVM side (graft.perfbench.Main) on local[nproc], and prints two lines:
a detail line (provenance, checks, metrics that only one workload has) and,
last, the result line {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are BENCHMARK.json's end_to_end metrics; with --trace 1
they are its per_layer metrics, and the full span trace is written to
.bench_build/work/trace/. See perfbench/README.md.
"""
import argparse
import json
import os
import re
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "work")
sys.path.insert(0, HERE)
import build  # noqa: E402

# The run must end within 180 s; the JVM gets what the build left of this.
DEADLINE_S = 172
HEAP = "4g"
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# Spans and the quantities kept per span in the result line (all of them go
# to the trace file).
SPARK_SPANS = [
    "link.dedupCorpus", "link.buildDocs", "link.buildIdf", "kg.detectMentions",
    "link.countStats", "link.linkTopKAuto", "kg.triples", "pipeline.KgJob.run",
    "kg.coMentionEdges", "kg.pmiEdges", "graph.pageRank", "pipeline.resume",
    "link.LinkIndex.build", "link.LinkIndex.link",
]
SPAN_QUANTITIES = {name: ["wall_s", "self_s", "task_s", "jobs", "task_max_s",
                          "idle_frac", "shuffle_write_mb"] for name in SPARK_SPANS}
SPAN_QUANTITIES["link.countStats"].remove("shuffle_write_mb")  # no exchange
SPAN_QUANTITIES["link.planRoutes"] = ["wall_s"]
SPAN_QUANTITIES["workload.op"] = ["wall_s", "self_s"]
SPAN_QUANTITIES["streaming.query"] = ["task_s", "jobs", "idle_frac", "shuffle_write_mb"]
STAGES = ["docs", "idf", "mentions", "hits", "triples"]
COUNTERS = ["link.pairs", "link.shuffle_cells", "link.bcast_districts",
            "link.scoring_task_s", "link.scoring_ms_per_mpair", "link.hit_yield",
            "link.doc_yield", "kg.mention_yield", "pipeline.stage_mb_written",
            "streaming.setup_s", "streaming.index_mb", "streaming.turns_per_s"]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(values, beyond=10):
    """Highest nearest-rank percentile with at least `beyond` samples above
    it: (value, percentile, sample count), or None below beyond+1 samples."""
    xs = sorted(values)
    n = len(xs)
    if n <= beyond:
        return None
    rank = n - beyond
    return xs[rank - 1], 100.0 * rank / n, n


def covered(intervals):
    """Length of the union of (start, end) intervals."""
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def self_times(spans):
    """Span id -> duration minus the part of it its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault((s["trace"], s["parent"]), []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        inner = [(max(c["start_ns"], lo), min(c["end_ns"], hi))
                 for c in kids.get((s["trace"], s["id"]), [])]
        out[s["id"]] = (hi - lo) - covered([iv for iv in inner if iv[1] > iv[0]])
    return out


def span_metrics(spans, cores):
    """Per span name: every quantity, summed within a trace, median across
    the traces that ran it. Names that never ran read 0."""
    selfs = self_times(spans)
    per = {}
    for s in spans:
        t = per.setdefault(s["name"], {}).setdefault(s["trace"], {
            "wall_s": 0.0, "self_s": 0.0, "task_s": 0.0, "jobs": 0, "tasks": 0,
            "task_max_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0, "rows": 0})
        t["wall_s"] += (s["end_ns"] - s["start_ns"]) / 1e9
        t["self_s"] += selfs[s["id"]] / 1e9
        t["task_s"] += s["task_ms"] / 1e3
        t["jobs"] += s["jobs"]
        t["tasks"] += s["tasks"]
        t["task_max_s"] = max(t["task_max_s"], s["task_max_ms"] / 1e3)
        t["shuffle_write_mb"] += s["shuffle_write_bytes"] / 1048576.0
        t["spill_mb"] += s["spill_bytes"] / 1048576.0
        t["rows"] += max(0, s["rows"])
    out = {}
    for name, traces in per.items():
        for t in traces.values():
            t["idle_frac"] = (1.0 - t["task_s"] / (t["wall_s"] * cores)
                              if t["wall_s"] > 0 else 0.0)
        for q in next(iter(traces.values())):
            out["%s.%s" % (name, q)] = median([t[q] for t in traces.values()])
    return out


def trigger_ms(triggers):
    """Trigger durations, without the first trigger (query start-up)."""
    return [t["ms"] for t in triggers[1:]]


def end_to_end(rep):
    ops = rep["ops"]
    return {
        "setup_s": median(rep["setup_s"]),
        "linked_turns_per_s": sum(o["turns"] for o in ops) / sum(o["wall_s"] for o in ops),
    }


def per_layer(rep):
    cores = rep["provenance"]["nproc"]
    spans = span_metrics(rep["spans"], cores)
    out = {}
    for name, qs in SPAN_QUANTITIES.items():
        for q in qs:
            out["%s.%s" % (name, q)] = spans.get("%s.%s" % (name, q), 0.0)
    for st in STAGES:
        out["pipeline.stage.%s.wall_s" % st] = rep["counters"].get(
            "pipeline.stage.%s.wall_s" % st, 0.0)
    for c in COUNTERS:
        out[c] = rep["counters"].get(c, 0.0)
    out["storage_mb"] = median([o["storage_mb"] for o in rep["ops"]])
    trig = trigger_ms(rep["triggers"])
    for k in ("addBatch", "walCommit", "queryPlanning"):
        out["streaming.trigger.%s_ms" % k] = median([t.get(k, 0) for t in trig])
    out["streaming.trigger.overhead_ms"] = median(
        [t["triggerExecution"] - t.get("addBatch", 0) - t.get("walCommit", 0)
         - t.get("queryPlanning", 0) for t in trig])
    tl = tail([t["triggerExecution"] / 1e3 for t in trig])
    out["streaming.trigger.tail_s"] = tl[0] if tl else 0.0
    if rep["traced_ops"]:
        out["trace.overhead_s"] = (median([o["wall_s"] for o in rep["traced_ops"]])
                                   - median([o["wall_s"] for o in rep["ops"]]))
    else:
        out["trace.overhead_s"] = 0.0
    return out


def details(rep):
    """Workload-specific figures and provenance for the detail line."""
    out = {}
    trig = trigger_ms(rep["triggers"])
    if trig:
        tl = tail([t["triggerExecution"] / 1e3 for t in trig])
        out["trigger_p50_s"] = median([t["triggerExecution"] / 1e3 for t in trig])
        if tl:
            out["trigger_tail_s"], out["trigger_tail_pct"], out["trigger_count"] = tl
    resumes = [o["resume_s"] for o in rep["ops"] if "resume_s" in o]
    if resumes:
        out["resume_s"] = median(resumes)
    return out


def expected_digest(workload, seed):
    with open(os.path.join(HERE, "digests.json")) as f:
        d = json.load(f)
    return d["digests"].get(workload) if seed == d["seed"] else None


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, timeout=10)
        return r.stdout.decode().strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for m in spec["end_to_end"] + spec["per_layer"]:
        if not NAME_RE.match(m["name"]):
            raise ValueError("bad metric name %r" % m["name"])
    return spec


def run_jvm(cp, args, report, deadline):
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    cmd = [build.java(), "-Xmx" + HEAP, "-XX:+UseParallelGC",
           "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", WORK, "--report", report]
    log_path = os.path.join(WORK, "logs", "%s-s%d-t%d.log" % (
        args.workload, args.seed, args.trace))
    with open(log_path, "wb") as log:
        # Spark's scratch space goes under the checkout, not SPARK_LOCAL_DIRS.
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             cwd=ROOT, env=env, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = None
    if rc != 0:
        with open(log_path, "rb") as f:
            sys.stderr.write(f.read()[-6000:].decode(errors="replace"))
        raise RuntimeError("JVM %s (log: %s)" % (
            "timed out" if rc is None else "exited %d" % rc, log_path))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["link_skewed", "ingest_checkpointed"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    args = ap.parse_args()
    t_start = time.time()

    knobs = sorted(k for k in os.environ if k.startswith("GRAFT_"))
    if knobs:
        sys.exit("perfbench: refusing to run with %s set; only the default "
                 "program is measured" % ", ".join(knobs))
    try:
        spec = load_spec()
        cp, src_hash = build.build()
    except (build.BuildError, OSError, ValueError) as e:
        sys.exit("perfbench: %s" % e)
    # The first run of a checkout compiles; only later runs owe 180 s.
    deadline = time.time() + DEADLINE_S - (
        0 if time.time() - t_start > 30 else time.time() - t_start)

    os.makedirs(os.path.join(WORK, "reports"), exist_ok=True)
    report = os.path.join(WORK, "reports", "%s-s%d-t%d.json" % (
        args.workload, args.seed, args.trace))
    if os.path.exists(report):
        os.remove(report)
    try:
        run_jvm(cp, args, report, deadline)
        with open(report) as f:
            rep = json.load(f)
    except (RuntimeError, OSError, ValueError) as e:
        sys.exit("perfbench: %s" % e)

    if not rep["ops"]:
        sys.stderr.write(json.dumps(rep["checks"]) + "\n")
        sys.exit("perfbench: no operation completed")
    checks = list(rep["checks"])
    want = expected_digest(args.workload, args.seed)
    if want is not None:
        got = rep["provenance"].get("digest")
        checks.append({"name": "digest of the default seed", "ok": got == want,
                       "detail": "%s, recorded %s" % (got, want)})
    failed_checks = [c for c in checks if not c["ok"]]
    attempted = len(rep["ops"]) + len(rep["traced_ops"]) + len(rep["triggers"]) + len(checks)
    failed = len(failed_checks)

    if args.trace:
        computed = per_layer(rep)
        names = spec["per_layer"]
        trace_dir = os.path.join(WORK, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        selfs = self_times(rep["spans"])
        with open(os.path.join(trace_dir, "%s-s%d.json" % (args.workload, args.seed)), "w") as f:
            json.dump({"spans": [dict(s, self_ns=selfs[s["id"]]) for s in rep["spans"]],
                       "layers": span_metrics(rep["spans"], rep["provenance"]["nproc"]),
                       "counters": rep["counters"]}, f, indent=1)
    else:
        computed = end_to_end(rep)
        names = spec["end_to_end"]
    metrics = {m["name"]: {"value": computed[m["name"]], "unit": m["unit"]} for m in names}

    prov = dict(rep["provenance"], git_commit=git_commit(), source_hash=src_hash,
                seed=args.seed, seconds=args.seconds, trace=args.trace)
    print(json.dumps({"workload": args.workload, "provenance": prov,
                      "details": details(rep), "failed_frac": failed / attempted,
                      "checks": checks}, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
