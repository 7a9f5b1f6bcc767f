#!/usr/bin/env python3
"""Local stand-in for the driver's t2 correctness gate: run graft.Verify at a
scale factor, execute each oracle SQL in DuckDB over the same parquet tables,
and compare (columns sorted by name, rows sorted, exact values).

Usage: python3 tools/verify_local.py [sfdir] [outdir] [--skip-spark]

sbt runs in the checkout that holds this script. graft.Verify writes
status.json (per query: "ok", or the error it threw) and exits non-zero if
any query threw; every query that wrote output is still compared, then the
failed queries are listed and the script exits non-zero.
"""
import json
import math
import subprocess
import sys
from pathlib import Path

import duckdb

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = Path(sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify")
REPO = Path(__file__).resolve().parents[1]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def run_spark():
    """Run graft.Verify; True iff it exited 0. A non-zero exit still leaves
    the outputs of the queries that ran, so the caller compares those."""
    cmd = ["sbt", "-batch", f'runMain graft.Verify {SF_DIR} {OUT}']
    (OUT / "status.json").unlink(missing_ok=True)
    r = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True)
    for line in (r.stdout + r.stderr).splitlines():
        if "[verify]" in line:
            print(line)
    if not (OUT / "status.json").exists():
        # Verify never finished (e.g. a compile error): nothing to compare
        print("\n".join((r.stdout + r.stderr).splitlines()[-25:]))
        sys.exit(1)
    return r.returncode == 0


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)  # full precision
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, dict)):
        return json.dumps(v, default=str, sort_keys=True)
    return str(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out), [cols[i] for i in order]


def main():
    spark_ok = "--skip-spark" in sys.argv or run_spark()
    con = duckdb.connect()
    import os as _os
    for t in TABLES:
        # driver testdata is one file per table; ScaleGen-derived corpora
        # (e.g. /tmp/graft_sf1) are Spark directory-per-table — glob those
        p = f"{SF_DIR}/{t}.parquet"
        if _os.path.isdir(p):
            p = f"{p}/*.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{p}')")
    oracle = json.loads((OUT / "oracle_sql.json").read_text())
    # VERDICT r16 "what's wrong" #1: honor SPARK_GRAFT_VERIFY_ONLY on the
    # DuckDB side too — the Spark dump already restricts to the named
    # queries, so without this filter a restricted run prints a bogus
    # "FAIL <q>: no spark output" for every unselected query and a
    # misleading "1 pass, 92 fail" summary. Restricted runs now end
    # "N pass, 0 fail".
    import os as _os2
    only_env = _os2.environ.get("SPARK_GRAFT_VERIFY_ONLY", "").strip()
    only = {q.strip() for q in only_env.split(",") if q.strip()} or None
    if only:
        missing = only - set(oracle)
        oracle = {n: s for n, s in oracle.items() if n in only}
        print(f"INFO restricted to {sorted(only)} "
              f"(SPARK_GRAFT_VERIFY_ONLY); oracle-less names treated "
              f"rows-only: {sorted(missing) or 'none'}")
    # Side-channel oracles (dedup signature frames, IVF cells/probe,
    # compress-len, ARPA-as-data) pin their /tmp parquet paths to the
    # correctness gate's scale (sf0.01) in the STATIC oracle strings. The
    # paths are scale-KEYED by construction (/tmp/graft_*_{sfN}), and a
    # graft.Verify run at another scale writes that scale's frames — so
    # RETARGET the pinned SQL to this scale's side-channels when they
    # exist (VERDICT r7 #4: dedup oracle equality beyond sf0.01), and
    # demote to rows-only when they don't (e.g. --skip-spark with no
    # prior run at this scale).
    import os
    import re
    scale = os.path.basename(SF_DIR.rstrip("/"))
    # provenance manifest (written by graft.Verify since r8): the set of
    # /tmp side-channel frames THAT run exported. A dir merely existing is
    # not enough — it could be a stale frame from an older JVM, code
    # version, or regenerated corpus, and comparing against it corrupts
    # the gate in both directions (false FAIL or vacuous PASS).
    manifest_file = OUT / "side_channels.json"
    manifest = (set(json.loads(manifest_file.read_text()))
                if manifest_file.exists() else None)
    if scale != "sf0.01":
        # the ARPA model dump and fuzz corpus are corpus-independent (no
        # scale key in their paths) and stay comparable at every scale
        retargeted = {}
        for n, sql in oracle.items():
            if "/tmp/graft_" in sql and "sf0.01" in sql:
                new_sql = sql.replace("sf0.01", scale)
                # the char class must cross '/' (the nb models export
                # nested frames, /tmp/graft_nb_*_{sf}/weights) and
                # include '*' so the glob tail can be split off — the
                # manifest records the deepest claimed directory
                dirs = {p.split("/*")[0] for p in
                        re.findall(r"/tmp/graft_[A-Za-z0-9_./*]+", new_sql)}
                fresh = (all(d in manifest for d in dirs) if manifest
                         is not None else False)
                if fresh and all(os.path.isdir(d) for d in dirs):
                    retargeted[n] = new_sql
                    print(f"INFO {n}: oracle retargeted to {scale} "
                          "side-channels")
                else:
                    why = ("side-channel not in this run's manifest"
                           if manifest is not None else
                           "no side_channels.json — rerun without "
                           "--skip-spark for frame provenance")
                    print(f"INFO {n}: scale-pinned oracle, rows-only at "
                          f"{scale} ({why})")
            else:
                retargeted[n] = sql
        oracle = retargeted
    n_pass = n_fail = 0
    results = {}
    for name, sql in sorted(oracle.items()):
        spark_dir = OUT / name
        if not spark_dir.exists():
            print(f"FAIL {name}: no spark output")
            results[name] = {"status": "fail", "err": "no spark output"}
            n_fail += 1
            continue
        try:
            s = con.sql(
                f"SELECT * FROM parquet_scan('{spark_dir}/*.parquet')")
            s_rows, s_cols = canon(s.fetchall(), s.columns)
            d = con.sql(sql)
            d_rows, d_cols = canon(d.fetchall(), d.columns)
        except Exception as e:
            print(f"FAIL {name}: {e}")
            results[name] = {"status": "fail", "err": str(e)[:500]}
            n_fail += 1
            continue
        if s_cols != d_cols:
            print(f"FAIL {name}: schema spark={s_cols} duck={d_cols}")
            results[name] = {"status": "fail", "err": "schema mismatch"}
            n_fail += 1
        elif s_rows != d_rows:
            n_fail += 1
            print(f"FAIL {name}: rows spark={len(s_rows)} duck={len(d_rows)}")
            results[name] = {"status": "fail", "err": "row/hash mismatch"}
            for i, (a, b) in enumerate(zip(s_rows, d_rows)):
                if a != b:
                    print(f"  first diff at {i}:\n   spark={a}\n   duck ={b}")
                    break
            else:
                ln = min(len(s_rows), len(d_rows))
                print(f"  extra from {ln}: "
                      f"{(s_rows[ln:ln+1] or d_rows[ln:ln+1])}")
        else:
            n_pass += 1
            results[name] = {"status": "pass", "rows": len(s_rows)}
            print(f"PASS {name} ({len(s_rows)} rows)")
    # rows-only queries (no oracle); a restricted run also skips stale
    # dirs left by a previous full dump at the same OUT
    for p in sorted(OUT.iterdir()):
        if only and p.name not in only:
            continue
        if p.is_dir() and p.name not in oracle:
            n = con.sql(
                f"SELECT count(*) FROM parquet_scan('{p}/*.parquet')"
            ).fetchone()[0]
            print(f"INFO {p.name}: rows-only, {n} rows")
            results[p.name] = {"status": "rows_only", "rows": n}
    # CORRECTNESS-style artifact for scale sweeps (VERDICT r7 #4)
    (OUT / "compare.json").write_text(json.dumps(
        {"sf": scale, "pass": n_pass, "fail": n_fail, "results": results},
        indent=1, sort_keys=True))
    print(f"\n{n_pass} pass, {n_fail} fail")
    status_file = OUT / "status.json"
    status = (json.loads(status_file.read_text())
              if status_file.exists() else {})
    threw = sorted(n for n, st in status.items() if st != "ok")
    if threw:
        print(f"{len(threw)} queries threw in graft.Verify: "
              + ", ".join(threw))
    elif not spark_ok:
        print("graft.Verify exited non-zero")
    sys.exit(1 if n_fail or threw or not spark_ok else 0)


if __name__ == "__main__":
    main()
