#!/usr/bin/env python3
"""Local pre-check of the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

Mimics the driver: for each query result parquet written by graft.Verify,
run the matching oracle SQL from oracle_sql.json in DuckDB over the same
sf tables, sort columns by name and rows by all columns, and compare
values exactly (the driver hash-matches, so exact is the bar).

Two more ways a query fails: an output with no oracle SQL and zero rows
(the rows-only check has nothing to stand on), and an oracle keyed by the
bare query name but not by the output's "<name>.parquet" basename, the
key the driver looks up (it would grade that query no_oracle).

Dev tooling only — the Scala library never depends on this.
"""
import json
import math
import sys
from pathlib import Path

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    # Everything becomes a string so mixed None/float/str tuples stay
    # sortable (Python 3 can't order None against float); both sides are
    # normalized identically, so exact equality is preserved.
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    oracle = json.loads((Path(out_dir) / "oracle_sql.json").read_text())
    results = {}
    for qdir in sorted(Path(out_dir).iterdir()):
        if not qdir.is_dir():
            continue
        name = qdir.name
        got = con.execute(
            f"SELECT * FROM '{qdir}/*.parquet'").fetch_arrow_table()
        got_cols = sorted(got.column_names)
        entry = {"rows_spark": got.num_rows, "oracle": name in oracle}
        bare = name.removesuffix(".parquet")
        if name not in oracle and bare != name and bare in oracle:
            entry["error"] = (f"key drift: oracle keyed '{bare}' but not "
                              f"'{name}', which the driver looks up")
            results[name] = entry
            continue
        if name in oracle:
            try:
                exp = con.execute(oracle[name]).fetch_arrow_table()
            except Exception as e:
                entry["error"] = f"oracle sql failed: {e}"
                results[name] = entry
                continue
            exp_cols = sorted(exp.column_names)
            entry["rows_match"] = got.num_rows == exp.num_rows
            entry["schema_match"] = got_cols == exp_cols
            if not entry["schema_match"]:
                entry["cols"] = {"spark": got_cols, "duck": exp_cols}
            if entry["rows_match"] and entry["schema_match"]:
                g = sorted(
                    (tuple(norm(row[c]) for c in got_cols)
                     for row in got.to_pylist()))
                e = sorted(
                    (tuple(norm(row[c]) for c in exp_cols)
                     for row in exp.to_pylist()))
                entry["hash_match"] = g == e
                if not entry["hash_match"]:
                    for i, (gr, er) in enumerate(zip(g, e)):
                        if gr != er:
                            entry["first_diff"] = {
                                "row": i, "spark": gr, "duck": er}
                            break
        results[name] = entry

    bad = 0
    for name, entry in sorted(results.items()):
        if "error" in entry:
            status = "ERROR " + entry["error"][:120]
            bad += 1
        elif not entry["oracle"] and entry["rows_spark"] == 0:
            status = "EMPTY rows-only output (0 rows)"
            bad += 1
        elif not entry["oracle"]:
            status = f"rows-only ({entry['rows_spark']} rows)"
        elif entry.get("hash_match"):
            status = "OK"
        else:
            status = "MISMATCH " + json.dumps(
                {k: v for k, v in entry.items()
                 if k in ("rows_match", "schema_match", "cols", "first_diff")},
                default=str)[:300]
            bad += 1
        print(f"{name:28s} {status}")
    print(f"\n{len(results)} queries, {bad} failing")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
