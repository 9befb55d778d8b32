#!/usr/bin/env python3
"""Shows that the benchmark's correctness gate fires.

    python3 perfbench/selftest.py

Run from the repository root. Copies the benchmark and the engine sources
to a scratch copy under .bench_selftest/, replaces one expected digest in
the copy with a wrong one, builds and runs one short etl_batch run there
(about 2 minutes), and checks that the run reports that op as failed
(correct false, failed >= 1). The copy is deleted afterwards. Exits 0
when the gate fired, 1 otherwise.
"""
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
VICTIM = "g1_fused_pipeline"


def main():
    copy = os.path.join(ROOT, ".bench_selftest", str(os.getpid()))
    shutil.rmtree(copy, ignore_errors=True)
    try:
        shutil.copytree(HERE, os.path.join(copy, "perfbench"))
        shutil.copytree(os.path.join(ROOT, "src", "main"),
                        os.path.join(copy, "src", "main"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), copy)
        # the copy builds its own tree: the class archive records the
        # jar's path, so the parent's build cannot be reused there
        exp_path = os.path.join(copy, "perfbench", "expected.json")
        with open(exp_path) as f:
            exp = json.load(f)
        exp[VICTIM]["sha256"] = "0" * 64
        with open(exp_path, "w") as f:
            json.dump(exp, f, indent=2)
        r = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "etl_batch",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=copy, stdout=subprocess.PIPE, text=True, timeout=900)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            print(f"selftest: run failed with code {r.returncode}")
            return 1
        res = json.loads(lines[-1])
        tele = json.loads(lines[-2])["telemetry"]
        hit = [f for f in tele["failures"] if f.startswith(VICTIM + "#")]
        fired = (res["correct"] is False and res["failed"] >= 1 and
                 len(hit) == res["failed"])
        print(json.dumps({"gate_fired": fired, "attempted": res["attempted"],
                          "failed": res["failed"], "failures": hit}))
        return 0 if fired else 1
    finally:
        shutil.rmtree(os.path.join(ROOT, ".bench_selftest"),
                      ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
