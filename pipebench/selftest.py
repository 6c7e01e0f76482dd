#!/usr/bin/env python3
"""Tests of the benchmark itself (not of the pipeline).

    python3 pipebench/selftest.py [workload ...]     # from the repository root

For each workload (default: all three) it checks that

1. the generator is seeded: the same seed writes byte-identical inputs and
   another seed writes different ones;
2. a traced run passes every output check, its traced call has the same
   output checksum as the untraced calls on the same input, and its spans
   account for the traced call: the wall time is config.parse plus
   service.run, and service.run is its self time plus its non-overlapping
   main-thread children, within 5% (trace.span_gap_frac);
3. a run on another seed changes the inputs but not the outcome of any
   check.

Takes several minutes: it runs the benchmark twice per workload.
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

SPAN_TOLERANCE = 0.05


def input_digest(workload, seed):
    d = tempfile.mkdtemp(dir=".bench_work")
    try:
        gen.GENERATORS[workload](seed, d)
        h = hashlib.sha256()
        for root, _, names in sorted(os.walk(d)):
            for n in sorted(names):
                with open(os.path.join(root, n), "rb") as fh:
                    h.update(n.encode() + fh.read())
        return h.hexdigest()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def run(workload, seed, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
                       stdout=subprocess.PIPE, text=True)
    lines = p.stdout.splitlines()
    result = json.loads(lines[-1]) if lines else None
    checksums = {}
    for ln in lines:
        parts = ln.split(" ", 2)
        if len(parts) == 3 and parts[1] == "checksum":
            k, c = parts[2].split(":", 1)
            checksums.setdefault(int(k), []).append(c)
    return p.returncode, result, checksums, lines


def main():
    workloads = sys.argv[1:] or list(gen.GENERATORS)
    os.makedirs(".bench_work", exist_ok=True)
    failures = []

    def expect(ok, what):
        print(("ok   " if ok else "FAIL ") + what)
        if not ok:
            failures.append(what)

    for w in workloads:
        a, a2, b = input_digest(w, 1), input_digest(w, 1), input_digest(w, 2)
        expect(a == a2, f"{w}: seed 1 twice gives identical inputs")
        expect(a != b, f"{w}: seeds 1 and 2 give different inputs")

        rc, r, sums, lines = run(w, 1, trace=1)
        expect(rc == 0 and r is not None and r["correct"] and r["failed"] == 0,
               f"{w}: traced run passes every output check (exit {rc})")
        if r is None:
            continue
        gap = r["metrics"]["trace.span_gap_frac"]["value"]
        expect(gap <= SPAN_TOLERANCE,
               f"{w}: spans account for the traced call within 5% (gap {gap:.4f})")
        if w == "incremental_batches":
            # the traced call re-processes the last batch: two checksums under one key
            last = sums[max(sums)]
            expect(len(last) == 2 and last[0] == last[1],
                   f"{w}: traced and untraced calls on one batch agree on the checksum")
        else:
            traced = sums.get(999, [])
            untraced = {c for k, cs in sums.items() if k != 999 for c in cs}
            expect(len(traced) == 1 and untraced == set(traced),
                   f"{w}: traced and untraced calls agree on the checksum")

        rc2, r2, _, _ = run(w, 2, trace=0)
        expect(rc2 == 0 and r2 is not None and r2["correct"] == r["correct"],
               f"{w}: seed 2 leaves every check's outcome unchanged")

    print(f"{len(failures)} failure(s)")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
