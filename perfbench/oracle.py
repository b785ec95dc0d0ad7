"""Output check for the op-list workloads.

Each op's first-pass output (parquet written by the benchmark JVM) is folded into
a fingerprint and compared with the same fold over DuckDB's answer to the
op's oracle SQL on the same input tables. The fold is the repository's own
canonical compare (`tools/selfcheck.py`: columns sorted by name, cells
rendered by one rule, rows sorted, column types by class), hashed so that
DuckDB answers can be cached by a hash of the SQL plus the input file bytes.
"""
import hashlib
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
from selfcheck import TABLES, canon  # noqa: E402


def fingerprint(rel):
    """(sorted column names, their type classes, row count, hash of rows)."""
    cols, rows, types = canon(rel.columns, rel.fetchall(), rel.types)
    h = hashlib.sha256("\n".join("\x01".join(r) for r in rows).encode()).hexdigest()
    return {"cols": cols, "types": types, "rows": len(rows), "hash": h}


def _file_digest(path):
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def check(data_dir, out_dir, oracle, cache_dir):
    """Returns {op: {"ok": bool, "detail": str}} for every op in `oracle`."""
    con = duckdb.connect()
    con.sql("SET threads TO 4")
    con.sql(f"SET temp_directory = '{out_dir}/duckdb_tmp'")
    present = [t for t in TABLES if os.path.exists(f"{data_dir}/{t}.parquet")]
    for t in present:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    inputs = "".join(f"{t}:{_file_digest(f'{data_dir}/{t}.parquet')};" for t in present)
    os.makedirs(cache_dir, exist_ok=True)
    verdicts = {}
    for name, sql in sorted(oracle.items()):
        out = f"{out_dir}/{name}"
        if not os.path.isdir(out):
            verdicts[name] = {"ok": False, "detail": "no output"}
            continue
        try:
            got = fingerprint(con.sql(f"SELECT * FROM '{out}/*.parquet'"))
            key = hashlib.sha256((inputs + sql).encode()).hexdigest()
            cached = f"{cache_dir}/{key}.json"
            if os.path.exists(cached):
                with open(cached) as fh:
                    want = json.load(fh)
            else:
                want = fingerprint(con.sql(sql))
                with open(cached, "w") as fh:
                    json.dump(want, fh)
        except Exception as e:  # an oracle that cannot run is a failed check
            verdicts[name] = {"ok": False, "detail": f"exception {e}"[:300]}
            continue
        ok = got == want
        detail = "match" if ok else (
            f"spark cols={got['cols']} types={got['types']} rows={got['rows']}; "
            f"duckdb cols={want['cols']} types={want['types']} rows={want['rows']}")
        verdicts[name] = {"ok": ok, "rows": got["rows"], "detail": detail}
    return verdicts
