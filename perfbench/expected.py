"""Derive the query_mix expected outputs from graft's DuckDB oracle.

    python3 perfbench/expected.py

For every query listed in `queries.json`, take its oracle SQL from
`SparkEntry.oracleSql` (through `perfbench.OracleDump`), run it with the installed
`duckdb` over the sf0.1 tables, and store the row count and the canonical
order-insensitive hash (the same digest `QueryCheck` computes in the JVM) back into
`queries.json`.  Only queries whose bench twin is the verified query belong in the list,
so the oracle's answer is the bench query's answer.
"""

import datetime
import decimal
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import model  # noqa: E402

_CTX = decimal.Context(prec=6, rounding=decimal.ROUND_HALF_EVEN)
_EPOCH = datetime.datetime(1970, 1, 1)


def number(x):
    """Half-even rounding to 6 significant digits, as `QueryCheck.number`."""
    x = float(x)
    if x != x:
        return "NaN"
    if x in (float("inf"), float("-inf")):
        return "inf" if x > 0 else "-inf"
    if x == 0.0:
        return "0e0"
    sign, digits, exp = _CTX.plus(decimal.Decimal(x)).normalize(_CTX).as_tuple()
    return ("-" if sign else "") + "".join(map(str, digits)) + "e%d" % exp


def render(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        return number(v)
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - _EPOCH
        return str((d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(render(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(render(x) for x in v.values()) + "}"
    raise TypeError("no canonical form for %r" % type(v))


def digest(columns, rows):
    """(row count, hash) with columns sorted by name, rows summed order-insensitively."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        total = (total + model.fnv1a64("\x1f".join(render(r[i]) for i in order))) & ((1 << 64) - 1)
    return len(rows), str(total)


def main():
    import duckdb
    import build
    from run import SF_DIR
    path = os.path.join(HERE, "queries.json")
    with open(path) as f:
        spec = json.load(f)
    names = [q["name"] for q in spec["queries"]]
    classes = build.build()
    with tempfile.TemporaryDirectory() as tmp:
        out = os.path.join(tmp, "oracle.json")
        subprocess.run(["java", "-cp", build.classpath(classes), "perfbench.OracleDump", out] + names,
                       check=True)
        with open(out) as f:
            oracle = json.load(f)
    con = duckdb.connect()
    for p in sorted(os.listdir(SF_DIR)):
        if p.endswith(".parquet"):
            con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s/%s')"
                        % (p[:-len(".parquet")], SF_DIR, p))
    for q in spec["queries"]:
        cur = con.execute(oracle[q["name"]])
        cols = [d[0] for d in cur.description]
        q["rows"], q["hash"] = digest(cols, cur.fetchall())
        print(q["name"], q["rows"], q["hash"])
    with open(path, "w") as f:
        json.dump(spec, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
