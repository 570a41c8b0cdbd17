"""DuckDB oracle check of the program's results.

Each op's result is compared with the program's own DuckDB oracle SQL
(``SparkEntry.oracleSql``), run on the same generated inputs. Both sides
are canonicalised by the repository's oracle gate (``tools/check_oracle.py``),
and an oracle with a HUGEINT column fails as it does there. Oracle answers
are cached by input directory (whose name carries the seed and the
generator fingerprint) and SQL text, so a repeated seed does not re-run
DuckDB.
"""

import hashlib
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
from check_oracle import canon  # noqa: E402


def digest(cols, rows):
    h = hashlib.sha256(repr((cols, rows)).encode()).hexdigest()
    return {"cols": cols, "rows": len(rows), "sha": h}


def _oracle(con, sql):
    huge = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM ({sql})")
            .fetchall() if "HUGEINT" in r[1]]
    if huge:
        return {"error": f"HUGEINT oracle columns {huge}"}
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return digest(*canon(cur.fetchall(), cols))


def _result(path):
    cur = duckdb.connect().execute(f"SELECT * FROM '{path}/*.parquet'")
    return digest(*canon(cur.fetchall(), [d[0] for d in cur.description]))


def check(data_dir, tables, oracles, results):
    """Failures as {op: reason}; ``results`` maps op -> parquet path and
    ``tables`` names the input tables the oracles read."""
    cache_dir = os.path.join(os.path.dirname(data_dir), "oracle",
                             os.path.basename(data_dir))
    os.makedirs(cache_dir, exist_ok=True)
    con = None
    failures = {}
    for op, sql in sorted(oracles.items()):
        if op not in results:
            failures[op] = "no result"
            continue
        key = hashlib.sha256(sql.encode()).hexdigest()[:16]
        path = os.path.join(cache_dir, f"{op}-{key}.json")
        try:
            with open(path) as f:
                want = json.load(f)
        except FileNotFoundError:
            if con is None:
                con = duckdb.connect()
                con.execute("SET threads TO 4")
                for t in tables:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"'{data_dir}/{t}.parquet'")
            try:
                want = _oracle(con, sql)
            except duckdb.Error as e:
                failures[op] = f"oracle error: {e}"
                continue
            with open(path + ".tmp", "w") as f:
                json.dump(want, f)
            os.replace(path + ".tmp", path)
        if "error" in want:
            failures[op] = want["error"]
            continue
        try:
            got = _result(results[op])
        except duckdb.Error as e:
            failures[op] = f"result unreadable: {e}"
            continue
        if got != want:
            failures[op] = f"oracle mismatch: spark {got} oracle {want}"
    return failures
