"""Fresh-JVM re-timing of the slowest queries from an in-context sweep
(round-12 advice #5: make the x100 sweep self-auditing).

The full-registry x100 sweep times every query inside ONE long-lived
harness run; a query's number there carries neighborhood pressure
(block-manager residue, page cache, box contention) that has produced
phantom "regressions" on unchanged code (q232 17.3 -> 26.0s in round
12). This tool re-times the N slowest queries from a sweep JSON, each
in its OWN fresh sbt JVM (one `sbt -batch runMain graft.Bench <q>`
invocation per query), and emits both columns so a real regression is
distinguishable from in-context variance: a query slow in BOTH columns
regressed; slow only in-context is neighborhood pressure.

Usage:
    python3 tools/fresh_slowest.py BENCH_X100_rN.json /tmp/graft_sf10 [N=10]

Prints one JSON line per query plus a summary line; paste the table
into SCALE.md at round close.
"""
import json
import os
import re
import subprocess
import sys

# the checkout this script lives in: it benches that checkout's code
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def bench_one(query: str, sf_dir: str) -> dict:
    env = dict(os.environ,
               SPARK_GRAFT_SF_DIR=sf_dir,
               SPARK_GRAFT_CPUS=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    p = subprocess.run(
        ["sbt", "-batch", f'runMain graft.Bench {query}'],
        cwd=REPO, env=env, text=True,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=3600)
    for line in p.stdout.splitlines():
        m = re.search(r'\{"metric".*\}', line)
        if m:
            return json.loads(m.group(0))
    raise RuntimeError(
        f"no bench JSON for {query}; tail:\n" + p.stdout[-2000:])


def main():
    sweep_path, sf_dir = sys.argv[1], sys.argv[2]
    n = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    sweep = json.load(open(sweep_path))
    slowest = sorted(sweep["queries"].items(), key=lambda kv: -kv[1])[:n]
    rows = []
    for query, in_ctx in slowest:
        r = bench_one(query, sf_dir)
        fresh = r["queries"][query]
        row = {"query": query, "in_context_s": round(in_ctx, 1),
               "fresh_jvm_s": round(fresh, 1),
               "canary_s": r.get("canary_pre_s"),
               "ratio": round(in_ctx / fresh, 2) if fresh else None}
        rows.append(row)
        print(json.dumps(row), flush=True)
    print(json.dumps({"probe": "fresh_jvm_slowest", "sf": sf_dir,
                      "sweep": sweep_path, "rows": rows}), flush=True)


if __name__ == "__main__":
    main()
