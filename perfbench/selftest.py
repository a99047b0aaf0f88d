"""Self-test of the output checks: runs every workload with one output
value damaged (`--corrupt 1`) and requires each run to report the damage
(`correct` false, `failed` above 0, so error_frac > 0).

    python3 perfbench/selftest.py [--seed N] [--seconds S]
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=2)
    a = ap.parse_args()
    bad = []
    for w in ("detect_batch", "pipeline_scaled", "detect_stream"):
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
             "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", "0",
             "--corrupt", "1"], stdout=subprocess.PIPE, text=True)
        last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else "{}"
        res = json.loads(last) if r.returncode == 0 else {}
        caught = res.get("correct") is False and res.get("failed", 0) > 0
        frac = res.get("failed", 0) / max(1, res.get("attempted", 1))
        print(f"{w}: exit {r.returncode}, correct={res.get('correct')}, "
              f"error_frac={frac:.4g} -> {'caught' if caught else 'MISSED'}")
        if not caught:
            bad.append(w)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
