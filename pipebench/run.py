#!/usr/bin/env python3
"""The runPipeline benchmark.

    python3 pipebench/run.py --workload curation_docs --seed 1 --seconds 20 --trace 0

Run from the repository root. It builds the code (pipebench/build.py),
then for one workload:

1. pipebench/gen.py writes the inputs for --seed, untimed;
2. the workload JVM times one cold and then warm `Pipeline.runPipeline`
   calls for --seconds, checking every output; with --trace 1 it adds one
   traced call and a replay of the stage functions.

Prints one line per metric, then, as the last line, the result JSON. With
--trace 0 the metrics are BENCHMARK.json's end_to_end ones, with --trace 1
its per_layer ones. Exits 1 when an output check failed, 2 when the run
could not finish. It writes only under .bench_work/ (deleted at the end),
.bench_out/ (span dumps of traced runs) and the build dir. See
pipebench/DESIGN.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("curation_docs", "tabular_etl", "incremental_batches")
JVM_TIMEOUT_S = 160
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm(classes, jars, workdir, mode, args, deadline):
    """Runs one benchmark JVM; returns (set-up seconds, stdout lines)."""
    # a fixed, pre-touched heap: rss_peak_mb then moves with off-heap and
    # non-heap memory, not with when the collector chose to grow the heap
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={workdir}/tmp",
           "-Dspark.ui.enabled=false",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{jars}/*", "pipebench.Main", mode] + args
    log = open(os.path.join(workdir, f"{mode}.log"), "w")
    t0 = time.time()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"{mode} JVM timed out", workdir, mode)
    finally:
        log.close()
    lines = out.splitlines()
    if proc.returncode != 0:
        fail(f"{mode} JVM exited {proc.returncode}", workdir, mode)
    ready = [ln for ln in lines if ln.startswith("READY ")]
    if not ready:
        fail(f"{mode} JVM never reported a ready session", workdir, mode)
    return int(ready[0].split()[1]) / 1000.0 - t0, lines


def fail(msg, workdir, mode):
    path = os.path.join(workdir, f"{mode}.log")
    if os.path.exists(path):
        with open(path, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
    sys.stderr.write(f"pipebench: {msg}\n")
    shutil.rmtree(workdir, ignore_errors=True)
    sys.exit(2)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = "BENCHMARK.json"
    if not os.path.exists(spec_path):
        sys.exit("pipebench: run from the repository root (no BENCHMARK.json here)")
    with open(spec_path) as fh:
        spec = json.load(fh)
    classes = build.build()
    jars = build.spark_jars()
    deadline = time.time() + JVM_TIMEOUT_S

    workdir = os.path.abspath(os.path.join(".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}"))
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(os.path.join(workdir, "tmp"))
    gen.GENERATORS[a.workload](a.seed, workdir)
    base = [a.workload, workdir]
    setup_s, lines = jvm(classes, jars, workdir, "run",
                         base + [str(a.seconds), str(a.trace)], deadline)
    result_lines = [ln for ln in lines if ln.startswith("RESULT ")]
    if not result_lines:
        fail("workload JVM printed no result", workdir, "run")
    r = json.loads(result_lines[-1][len("RESULT "):])
    spans = os.path.join(workdir, "spans.jsonl")
    if a.trace and os.path.exists(spans):
        os.makedirs(".bench_out", exist_ok=True)
        shutil.copy(spans, os.path.join(".bench_out", f"spans-{a.workload}-{a.seed}.jsonl"))
    shutil.rmtree(workdir, ignore_errors=True)

    got = dict(r["metrics"])
    got["setup_s"] = setup_s
    attempted, failed = r["attempted"], r["failed"]
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    correct = bool(r["correct"]) and failed == 0
    metrics = {}
    for m in wanted:
        v = got.get(m["name"])
        if v is None:  # a call threw before the metric could be measured
            correct = False
            continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    for name, m in metrics.items():
        print(f"{a.workload} {name} {m['value']} {m['unit']}")
    if a.trace:  # layer metrics measured but not listed in BENCHMARK.json
        for name in sorted(set(got) - set(metrics)):
            if "." in name:
                print(f"{a.workload} {name} {got[name]} (not in BENCHMARK.json)")
    print(f"{a.workload} failed_frac {failed / attempted} ratio")
    print(f"{a.workload} warm calls {got['warm_s']} s")
    print(f"{a.workload} host other_cores {got['host_other_cores']:.2f} "
          f"steal_frac {got['host_steal_frac']:.4f} (evidence only)")
    if a.trace and "trace.overhead_s" in got:
        print(f"{a.workload} tracing overhead {got['trace.overhead_s']:.3f} s "
              f"(traced {got['trace.run_s']:.3f} s)")
    for c in r["checksums"]:
        print(f"{a.workload} checksum {c}")
    for p in r["problems"]:
        print(f"{a.workload} CHECK FAILED: {p}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
