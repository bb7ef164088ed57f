#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB oracle compare.

Usage: python3 tools/compare.py <sfDir> <verifyOutDir> [jsonOut]

For each query parquet under verifyOutDir, runs the matching SQL from
oracle_sql.json in DuckDB (with the sfDir tables registered as views) and
compares schema (column names + values) and full row content in order.
With jsonOut, also writes a CORRECTNESS-style per-query JSON report.
"""
import json
import sys
import time

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main(sf_dir, out_dir, json_out=None):
    con = duckdb.connect()
    # The heavy recursive-CTE oracles (e70/e70b connected components at
    # sf1a) materialize every iteration's frontier; insertion-order
    # preservation roughly doubles that working set and pushed the
    # spill past the disk budget. Optional env overrides for memory
    # limit and temp placement keep the big re-verifies runnable.
    #
    # preserve_insertion_order=false is OPT-IN (GRAFT_DUCKDB_PIO=false),
    # not the default: DuckDB 1.0.0 drops the OUTERMOST ORDER BY of some
    # multi-threaded plans under it (reproduced on e48b's 8-way UNION
    # ALL chain: `SELECT * FROM u ORDER BY iter` returns interleaved
    # rows at threads=8, ordered at threads=1) — an oracle-engine bug
    # that reads as a value mismatch. The heavy sf1a re-verifies set it
    # together with threads=2, where the plans in question stay ordered.
    import os as _os
    if _os.environ.get("GRAFT_DUCKDB_PIO", "").lower() == "false":
        con.execute("SET preserve_insertion_order=false")
        # PIO=false is only safe at low thread counts (the dropped-
        # outermost-ORDER-BY plans stay ordered at threads<=2); the
        # pairing used to live only in this comment — force it when the
        # caller did not pin threads themselves (r14 advice #3)
        if not _os.environ.get("GRAFT_DUCKDB_THREADS"):
            print("[compare] GRAFT_DUCKDB_PIO=false without "
                  "GRAFT_DUCKDB_THREADS: forcing threads=2 (DuckDB 1.0.0 "
                  "drops some outermost ORDER BYs under pio=false at "
                  "higher thread counts)")
            con.execute("SET threads=2")
    import re as _re
    if _os.environ.get("GRAFT_DUCKDB_MEMORY"):
        mem = _os.environ["GRAFT_DUCKDB_MEMORY"]
        # validate before interpolating into SET (r13 advice: a malformed
        # value fails obscurely inside DuckDB or alters the statement).
        # Accepts DuckDB's memory_limit grammar (r14 advice #4): '24GB',
        # '1.5GiB', suffix-less '24G', plain-byte '123456', and '80%'.
        if not _re.fullmatch(r"\d+(\.\d+)?\s*(%|[KMGT]i?B?|B)?", mem,
                             _re.IGNORECASE):
            raise SystemExit(
                f"GRAFT_DUCKDB_MEMORY must look like '24GB'/'24G'/'80%', "
                f"got: {mem!r}")
        con.execute(f"SET memory_limit='{mem}'")
    if _os.environ.get("GRAFT_DUCKDB_TEMP"):
        # DuckDB SET does not accept prepared parameters — escape the
        # single-quote literal delimiter instead of splicing raw text
        tmp = _os.environ["GRAFT_DUCKDB_TEMP"].replace("'", "''")
        con.execute(f"SET temp_directory='{tmp}'")
    if _os.environ.get("GRAFT_DUCKDB_THREADS"):
        con.execute(
            f"SET threads={int(_os.environ['GRAFT_DUCKDB_THREADS'])}")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    # Amplified copies store events.ts as BIGINT nanos (Spark cannot
    # write TIMESTAMP(NANOS) parquet) — apply the same micros adapter
    # the Spark side uses (graft.Tables.events) so the oracle SQL sees
    # a timestamp either way.
    (ts_type,) = con.sql(
        "SELECT column_type FROM (DESCRIBE events) WHERE column_name = 'ts'").fetchone()
    if ts_type == "BIGINT":
        con.execute("DROP VIEW events")
        con.execute(
            f"CREATE VIEW events AS SELECT * REPLACE (make_timestamp(ts // 1000) AS ts) "
            f"FROM read_parquet('{sf_dir}/events.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    status = {}
    try:
        status = json.load(open(f"{out_dir}/status.json"))
    except FileNotFoundError:
        pass
    n_pass = n_fail = 0
    report = {}
    for name in sorted(set(list(oracle) + list(status))):
        if name not in oracle:
            print(f"[noora] {name}: no oracle (rows-only check), status={status.get(name)}")
            report[name] = {"rows_only": True, "status": status.get(name)}
            continue
        def rollback():
            # a failed statement aborts the implicit transaction; without a
            # rollback every LATER query fails too and one missing dump
            # cascades into a whole-run failure
            try:
                con.execute("ROLLBACK")
            except Exception:
                pass
        try:
            spark_df = con.sql(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").df()
        except Exception as e:
            rollback()
            print(f"[FAIL ] {name}: no spark result ({str(e).splitlines()[0]})")
            report[name] = {"match": False, "problems": ["no spark result"]}
            n_fail += 1
            continue
        t0 = time.monotonic()
        try:
            duck_df = con.sql(oracle[name]).df()
        except Exception as e:
            rollback()
            print(f"[FAIL ] {name}: oracle SQL error: {str(e).splitlines()[0]}"
                  f" [oracle {time.monotonic() - t0:.2f} s]")
            report[name] = {"match": False,
                            "problems": [f"oracle SQL error: {str(e).splitlines()[0]}"]}
            n_fail += 1
            continue
        # the oracle SQL's own elapsed time, so a slow oracle shows per key
        took = f" [oracle {time.monotonic() - t0:.2f} s]"
        problems = []
        if sorted(spark_df.columns) != sorted(duck_df.columns):
            problems.append(
                f"columns spark={sorted(spark_df.columns)} duck={sorted(duck_df.columns)}")
        elif len(spark_df) != len(duck_df):
            problems.append(f"rows spark={len(spark_df)} duck={len(duck_df)}")
        else:
            s = spark_df[sorted(spark_df.columns)]
            d = duck_df[sorted(duck_df.columns)]
            def norm(x):
                # duckdb->pandas yields numpy arrays for NUMERIC list
                # cells (python lists for VARCHAR lists); normalize so
                # cell comparison is plain list equality either way.
                # NaN inside a list cell is replaced by a sentinel:
                # the scalar-level NaN tolerance (a != a and b != b)
                # below never reaches list elements, so without this a
                # NaN-carrying list (e.g. a 0/0 mean) would always
                # report a spurious diff.
                import numpy as np
                if isinstance(x, np.ndarray):
                    return [norm(y) for y in x.tolist()]
                if isinstance(x, list):
                    return [norm(y) for y in x]
                if isinstance(x, float) and x != x:
                    return "__nan__"
                return x
            for c in s.columns:
                sv = [norm(x) for x in s[c].tolist()]
                dv = [norm(x) for x in d[c].tolist()]
                if str(s[c].dtype) != str(d[c].dtype):
                    problems.append(f"dtype[{c}] spark={s[c].dtype} duck={d[c].dtype}")
                bad = [(i, a, b) for i, (a, b) in enumerate(zip(sv, dv))
                       if a != b and not (a != a and b != b)]
                if bad:
                    i, a, b = bad[0]
                    problems.append(
                        f"value[{c}] {len(bad)} diffs, first@{i}: spark={a!r} duck={b!r}")
        if problems:
            n_fail += 1
            print(f"[FAIL ] {name}: " + "; ".join(problems[:4]) + took)
            report[name] = {"match": False, "rows": len(spark_df),
                            "problems": problems[:4]}
        else:
            n_pass += 1
            print(f"[ok   ] {name} ({len(spark_df)} rows){took}")
            report[name] = {"match": True, "rows": len(spark_df)}
    print(f"\n{n_pass} pass, {n_fail} fail")
    if json_out:
        with open(json_out, "w") as f:
            json.dump({"sf_dir": sf_dir, "n_pass": n_pass, "n_fail": n_fail,
                       "queries": report}, f, indent=1, sort_keys=True)
    return n_fail


if __name__ == "__main__":
    sys.exit(1 if main(sys.argv[1], sys.argv[2],
                       sys.argv[3] if len(sys.argv) > 3 else None) else 0)
