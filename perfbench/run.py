"""graft benchmark: catalog ingest, hub stream read/write and corpus curation.

    python3 perfbench/run.py --workload ingest_catalog --seed 1 \
        --seconds 5 --trace 0

Run from the repository root. `--workload all` runs the three workloads one
after another. Builds graft and the benchmark from source on first use
(perfbench/build.py), runs each workload in its own JVM, prints a readable
report, and prints as the LAST line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (`--trace 0`) or the per-layer metrics
(`--trace 1`). Run records and span dumps stay in .bench_build/runs.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["ingest_catalog", "hub_stream_rw", "corpus_curate"]
RUNS = os.path.join(build.BUILD, "runs")
# a run must end within 180 s; keep a margin for start-up and clean-up
JVM_BUDGET_S = 165


def git_commit():
    """HEAD of the checkout, when it is a git repository."""
    if not os.path.isdir(os.path.join(build.ROOT, ".git")):
        return "none"
    r = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                       capture_output=True, text=True)
    return r.stdout.strip() or "none"


def stop(proc):
    """Kill the benchmark JVM's process group and wait for it."""
    os.killpg(proc.pid, signal.SIGKILL)
    proc.wait()


def run_workload(name, seed, seconds, trace, sha, deadline):
    tag = f"{name}-s{seed}-t{trace}-{os.getpid()}"
    work = os.path.join(build.BUILD, "work", tag)
    record = os.path.join(RUNS, tag + ".json")
    spans = os.path.join(RUNS, f"spans-{tag}.jsonl")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(RUNS, exist_ok=True)
    cmd = [build.java(), "-Xmx3g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dlog4j2.configurationFile=" +
           os.path.join(build.ROOT, "perfbench", "log4j2.properties"),
           *build.ADD_OPENS,
           "-cp", build.classpath(),
           "graftbench.Main", "--workload", name, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace),
           "--work", work, "--record", record, "--spans", spans,
           "--source", sha[:16], "--git", git_commit()]
    # Spark's shuffle and spill files stay in the work dir (spark.local.dir)
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env,
                            start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        stop(proc)
        raise RuntimeError(f"{name}: no result within the time budget")
    except BaseException:  # SIGTERM / Ctrl-C: take the JVM down too
        stop(proc)
        raise
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or not os.path.exists(record):
        raise RuntimeError(f"{name}: benchmark JVM exited with {proc.returncode}")
    rec = json.load(open(record))
    rec["layer_table"] = [l[len("[layers] "):] for l in stdout.splitlines()
                          if l.startswith("[layers] ")]
    rec["spans_file"] = os.path.relpath(spans, build.ROOT) if trace else None
    return rec


def untraced_medians(name, source):
    """Median of each end-to-end metric over the untraced runs of `name`
    recorded in this checkout from the same sources (digest `source`), for
    the tracing-overhead line."""
    vals = {}
    for f in sorted(os.listdir(RUNS)):
        if f.startswith(name + "-") and "-t0-" in f and f.endswith(".json"):
            rec = json.load(open(os.path.join(RUNS, f)))
            if rec["host"]["source"] != source:
                continue
            for k, m in rec["end_to_end"].items():
                vals.setdefault(k, []).append(m["value"])
    return {k: (statistics.median(v), len(v)) for k, v in vals.items()}


def report(rec):
    w = rec["workload"]
    p = lambda s: print(f"[{w}] {s}")
    p(f"seed={rec['seed']} seconds={rec['seconds']} trace={rec['trace']} "
      f"attempted={rec['attempted']} failed={rec['failed']} "
      f"correct={rec['correct']}")
    for f in rec["failures"]:
        p(f"FAILED {f}")
    p("host " + json.dumps(rec["host"]))
    p("inputs " + json.dumps(rec["inputs"]))
    p("samples " + json.dumps(rec["samples"]))
    p("phases " + json.dumps(rec["phases_s"]))
    for k, m in rec["named"].items():
        p(f"{k:<22} {m['value']:>14.6g} {m['unit']}")
    for k, m in rec["end_to_end"].items():
        p(f"e2e {k:<18} {m['value']:>14.6g} {m['unit']}")
    if rec["trace"] == 1:
        for line in rec["layer_table"]:
            p("layers " + line)
        for k, m in rec["per_layer"].items():
            p(f"layer {k:<44} {m['value']:>14.6g} {m['unit']}")
        cov = rec["per_layer"]["trace.span_coverage"]["value"]
        p(f"span self times cover {cov:.4f} of the timed wall time "
          f"(stated tolerance: within 0.02 of 1; outside it the run fails)")
        base = untraced_medians(w, rec["host"]["source"])
        if not base:
            p("tracing overhead: no untraced run of this workload from these "
              "sources recorded in this checkout yet")
        for k, m in rec["end_to_end"].items():
            if k in base:
                u, n = base[k]
                rel = (m["value"] - u) / u if u else float("nan")
                p(f"tracing overhead {k}: traced {m['value']:.6g} - untraced "
                  f"median {u:.6g} (n={n}) = {m['value'] - u:.6g} ({rel:+.1%})")
        p(f"span dump: {rec['spans_file']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a SIGTERM unwinds like Ctrl-C, so every child is killed and reaped
    signal.signal(signal.SIGTERM, lambda sig, _: sys.exit(128 + sig))
    try:
        sha = build.ensure()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"[graftbench] build failed: {e}", file=sys.stderr)
        return 2
    names = WORKLOADS if a.workload == "all" else [a.workload]
    recs = []
    for n in names:
        deadline = time.time() + JVM_BUDGET_S
        try:
            recs.append(run_workload(n, a.seed, a.seconds, a.trace, sha,
                                     deadline))
        except RuntimeError as e:
            print(f"[graftbench] {e}", file=sys.stderr)
            return 1
        report(recs[-1])
    key = "per_layer" if a.trace else "end_to_end"
    if len(recs) == 1:
        metrics = recs[0][key]
    else:
        sel = "per_layer" if a.trace else "named"
        metrics = {f"{r['workload']}/{k}": m for r in recs
                   for k, m in r[sel].items()}
    print(json.dumps({
        "correct": all(r["correct"] for r in recs),
        "attempted": sum(int(r["attempted"]) for r in recs),
        "failed": sum(int(r["failed"]) for r in recs),
        "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
