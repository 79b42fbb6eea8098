#!/usr/bin/env python3
"""Tests of the benchmark itself.

    python3 perfbench/selftest.py            # generator + every planted fault
    python3 perfbench/selftest.py gen        # generator only

gen:    the seeded generator writes byte-identical inputs for the same
        seed and different inputs for another seed.
faults: each output check fires. Every planted fault must make the run
        report correct=false, count at least one failed op (so it shows
        in error_rate) and exit non-zero.
"""
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run as bench  # noqa: E402

FAULTS = {
    "card_refresh.wrong_batch": "card_refresh",   # read-back and final snapshot checks
    "card_refresh.extra_commit": "card_refresh",  # one-version-per-statement check
    "card_refresh.asof_read": "card_refresh",     # as-of reads match the lake-free reference
    "card_refresh.oracle": "card_refresh",        # relational results match DuckDB
    "corpus_gate.drop_pair": "corpus_gate",       # every planted near-duplicate caught
    "corpus_gate.bogus_pair": "corpus_gate",      # every reported pair verifies by exact Jaccard
    "corpus_gate.reject_novel": "corpus_gate",    # every rotated document admitted
    "corpus_gate.skip_dedup_append": "corpus_gate",  # near-duplicates of appended documents caught
    "corpus_gate.skip_ann_append": "corpus_gate",    # appended copies served in their query's top-10
    "star_query.lake_read": "star_query",         # lake reads match the lake-free reference
    "star_query.oracle": "star_query",            # relational results match DuckDB
}


def gen():
    classpath = bench.build()
    work = os.path.join(bench.TARGET, "work", f"gencheck-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        d = bench.jvm(classpath, work, ["gencheck", "--seed", "7"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    assert d["same_a"] == d["same_b"], f"same seed, different inputs: {d}"
    assert d["same_a"] != d["other"], f"different seeds, same inputs: {d}"
    print(f"gen: ok (seed 7 twice -> {d['same_a'][:16]}, seed 8 -> {d['other'][:16]})")


def faults():
    bad = []
    for fault, workload in FAULTS.items():
        p = subprocess.run([sys.executable, os.path.join(bench.BENCH, "run.py"), "--workload", workload,
                            "--seed", "3", "--seconds", "8", "--fault", fault],
                           cwd=bench.ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        last = json.loads(p.stdout.strip().splitlines()[-1])
        fired = p.returncode != 0 and not last["correct"] and last["failed"] >= 1
        checks = [l for l in p.stderr.splitlines() if "CHECK FAILED" in l]
        print(f"faults: {fault}: {'fired' if fired else 'NOT DETECTED'}; "
              f"{last['failed']}/{last['attempted']} ops failed; {checks[0] if checks else ''}")
        if not fired:
            bad.append(fault)
    assert not bad, f"planted faults not detected: {bad}"


if __name__ == "__main__":
    what = sys.argv[1:] or ["gen", "faults"]
    for w in what:
        {"gen": gen, "faults": faults}[w]()
