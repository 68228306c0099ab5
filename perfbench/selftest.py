#!/usr/bin/env python3
"""Self-tests of the benchmark itself (not of graft).

    python3 perfbench/selftest.py

1. Seeded inputs: the generator writes byte-identical inputs for the same
   seed and different inputs for another seed.
2. Loud failures: a feed whose column_map_rules name a missing column (it
   takes graft's real Mapper "Missing fields" -> onError path) and a
   tampered feed expectation both count as failed operations, leave the
   attempted total unchanged and make the command exit non-zero; so does a
   registry result with one row dropped before the oracle check, counting
   each failed execution once.

Takes about four minutes on 4 cores.
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402

SCRATCH = os.path.join(ROOT, ".bench_build", "selftest")


def generate(cp, seed, name):
    out = os.path.join(SCRATCH, name)
    shutil.rmtree(out, ignore_errors=True)
    subprocess.run(["java", "-cp", cp, "graftbench.Main", "--gen-only", "1", "--workload", "feed_ingest",
                    "--seed", str(seed), "--work", out], check=True)
    return out


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(same_tree(os.path.join(a, d), os.path.join(b, d))
                                               for d in cmp.common_dirs)


def bench(workload, seed, inject=""):
    cmd = ["python3", os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", "1", "--trace", "0"] + (["--inject", inject] if inject else [])
    p = subprocess.run(cmd, capture_output=True, text=True)
    return p.returncode, json.loads(p.stdout.strip().splitlines()[-1]), p.stdout


def main():
    cp = build.build()
    ok = True

    def expect(cond, what):
        nonlocal ok
        print(("PASS " if cond else "FAIL ") + what, flush=True)
        ok = ok and cond

    a1, a2, b = generate(cp, 7, "seed7a"), generate(cp, 7, "seed7b"), generate(cp, 8, "seed8")
    expect(same_tree(a1, a2), "same seed gives byte-identical inputs")
    expect(not same_tree(a1, b), "another seed gives different inputs")

    code, clean, _ = bench("feed_ingest", 3)
    expect(code == 0 and clean["failed"] == 0, f"clean feed_ingest run passes (exit {code})")
    code, hurt, out = bench("feed_ingest", 3, "missing_column,tampered_expectation")
    expect(code != 0, f"injected failures exit non-zero (exit {code})")
    expect(hurt["failed"] == 2 and not hurt["correct"], f"both injections counted ({hurt['failed']} failed)")
    expect(hurt["attempted"] == clean["attempted"], "attempted total unchanged")
    expect("Missing fields" in out, "the missing column failed in graft's Mapper")
    expect(set(hurt["metrics"]) == set(clean["metrics"]), "every metric still reported")

    code, tampered, _ = bench("corpus_curation", 3, "tampered_result")
    expect(code != 0 and tampered["failed"] > 0, f"tampered registry result fails the run (exit {code})")
    expect(tampered["failed"] <= tampered["attempted"], "each failed execution counted once")
    shutil.rmtree(SCRATCH, ignore_errors=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
