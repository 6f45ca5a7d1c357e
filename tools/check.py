#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/check.py [sfDir] [outDir]

Assumes `sbt "runMain graft.Verify <sfDir> <outDir>"` has already run
(or run with --run to invoke it). Loads each <outDir>/<name> parquet,
runs the matching oracle SQL from oracle_sql.json in DuckDB (tables =
<sfDir>/<table>.parquet registered as views), sorts columns by name and
rows by all columns, and compares values.
"""
import json
import math
import subprocess
import sys
from pathlib import Path

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# the checkout this script lives in: --run builds and runs its code
REPO = Path(__file__).resolve().parent.parent

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_df(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize timestamps to UTC-naive for comparison
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64[ns,"):
            df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def values_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    try:
        if pd.isna(a) and pd.isna(b):
            return True
        if bool(pd.isna(a)) != bool(pd.isna(b)):
            return False
    except (TypeError, ValueError):
        pass
    return a == b


def canon_type(t: pa.DataType) -> str:
    """Canonical type label mirroring the driver's type-sensitive hash.

    Spark BIGINT must equal DuckDB BIGINT — a DuckDB HUGEINT /
    decimal128(38,0) (from an uncast SUM) must FAIL against Spark's
    int64 even when every value matches, because the driver hashes the
    arrow type. Only representation-level differences that the driver
    also ignores are collapsed (string width, timestamp tz/unit).
    """
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{canon_type(t.value_type)}>"
    if pa.types.is_dictionary(t):
        return canon_type(t.value_type)
    return str(t)


def compare_types(got: pa.Schema, exp: pa.Schema):
    gm = {f.name: canon_type(f.type) for f in got}
    em = {f.name: canon_type(f.type) for f in exp}
    for c in sorted(gm):
        if c in em and gm[c] != em[c]:
            return f"TYPE col={c} spark={gm[c]} oracle={em[c]}"
    return None


def compare(name, got: pd.DataFrame, exp: pd.DataFrame):
    if sorted(got.columns) != sorted(exp.columns):
        return f"SCHEMA cols spark={sorted(got.columns)} oracle={sorted(exp.columns)}"
    if len(got) != len(exp):
        return f"ROWS spark={len(got)} oracle={len(exp)}"
    g, e = norm_df(got), norm_df(exp)
    for c in g.columns:
        gv, ev = g[c].tolist(), e[c].tolist()
        for i, (x, y) in enumerate(zip(gv, ev)):
            if not values_equal(x, y):
                return f"VALUE col={c} row={i} spark={x!r} oracle={y!r}"
    return None


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    out_dir = Path(args[1] if len(args) > 1 else "/tmp/verify_out")
    only = set(args[2:])
    if "--run" in sys.argv:
        names = (" " + " ".join(sorted(only))) if only else ""
        # own process group + killpg on timeout: subprocess.run's
        # timeout kills only the sbt launcher, orphaning the forked
        # Verify JVM at 100% CPU (seen twice with a stuck query)
        p = subprocess.Popen(
            ["sbt", "-batch",
             f"runMain graft.Verify {sf_dir} {out_dir}{names}"],
            cwd=REPO, stdout=subprocess.PIPE,
            stderr=subprocess.PIPE, text=True, start_new_session=True)
        try:
            stdout, stderr = p.communicate(timeout=5400)
        except subprocess.TimeoutExpired as e:
            import os as _os, signal as _signal
            _os.killpg(p.pid, _signal.SIGKILL)
            p.wait()
            # surface the partial [verify] output so the stuck query is
            # identifiable from the failure alone
            for cap, label in ((e.output, "stdout"), (e.stderr, "stderr")):
                if cap:
                    txt = cap.decode(errors="replace") if isinstance(cap, bytes) else cap
                    print(f"--- timeout: captured {label} tail ---")
                    print(txt[-4000:])
            raise
        if p.returncode != 0:
            print(stdout[-4000:])
            print(stderr[-4000:])
            sys.exit(1)
        for line in stdout.splitlines():
            if "[verify]" in line:
                print(line)

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    oracles = json.loads((out_dir / "oracle_sql.json").read_text())
    if only:
        oracles = {k: v for k, v in oracles.items() if k in only}
    n_pass = n_fail = 0
    result_dirs = sorted(d.name for d in out_dir.iterdir()
                         if d.is_dir() and (not only or d.name in only))
    for name in result_dirs:
        try:
            got = pd.read_parquet(out_dir / name)
        except Exception as ex:
            print(f"FAIL {name}: cannot read spark result: {ex}")
            n_fail += 1
            continue
        if name not in oracles:
            status = "rows-only" + (" OK" if len(got) > 0 else " EMPTY!")
            print(f"  -  {name}: no oracle ({status}, {len(got)} rows)")
            continue
        try:
            exp_tbl = con.execute(oracles[name]).arrow()
            exp = exp_tbl.to_pandas()
        except Exception as ex:
            print(f"FAIL {name}: oracle SQL error: {ex}")
            n_fail += 1
            continue
        try:
            got_schema = pq.read_schema(
                next((out_dir / name).glob("*.parquet")))
        except StopIteration:
            got_schema = pa.Schema.from_pandas(got)
        err = compare_types(got_schema, exp_tbl.schema) \
            or compare(name, got, exp)
        if err:
            print(f"FAIL {name}: {err}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(got)} rows)")
            n_pass += 1
    missing = set(oracles) - set(result_dirs)
    for name in sorted(missing):
        print(f"FAIL {name}: oracle declared but no spark result written")
        n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, "
          f"{len(result_dirs) - n_pass - n_fail} rows-only")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
