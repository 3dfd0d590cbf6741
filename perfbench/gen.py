"""Deterministic CDC spool generator for the graft benchmark.

The spool is built from rows of the sf0.1 `orders`, `lineitem`, `customer` and
`events` tables.  Everything that varies is drawn from `random.Random` generators seeded from
the seed, so the same seed and sizes give byte-identical spool files.

A bulk spool holds, in arrival order:
  * an insert (`c`) for every selected row, tables interleaved;
  * update waves (`u`, full after-image) whose keys are skewed toward hot keys;
  * PK-only deletes (`d`, before-image holds only the primary key), most followed by
    a tombstone (both images null), and one truncate (`t`);
  * one ADD-column wave (`o_clerk` appears on orders and stays) and one long->double
    widening wave (`c_nationkey` receives fractional values);
  * one replayed byte range: a contiguous run of lines delivered a second time as
    its own file, as an at-least-once source does after a restart.

The delta (for one scheduled incremental sync) holds updates and deletes on keys that
exist at the end of the bulk history.
"""

import collections
import json
import os
import random

# (envelope table name, source table, primary key, duckdb select list)
TABLES = [
    ("tpch.orders", "orders", ["o_orderkey"],
     "o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
     "strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority"),
    ("tpch.lineitem", "lineitem", ["l_orderkey", "l_linenumber"],
     "l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_partkey, l_suppkey, "
     "l_quantity, l_extendedprice, l_discount, l_returnflag, l_linestatus, "
     "strftime(l_shipdate, '%Y-%m-%d') AS l_shipdate"),
    ("tpch.customer", "customer", ["c_custkey"],
     "c_custkey, c_name, CAST(c_nationkey AS BIGINT) AS c_nationkey, c_acctbal, "
     "c_mktsegment"),
    ("app.events", "events", ["event_id"],
     "event_id, user_id, event_type, value, props"),
]

# Primary keys by staging table id (dots -> underscores), as CdcRunner is configured.
PRIMARY_KEYS = {t.replace(".", "_"): pk for t, _, pk, _ in TABLES}

# Column each table's update waves change, and how.
UPDATED_COLUMN = {
    "tpch.orders": "o_totalprice",
    "tpch.lineitem": "l_quantity",
    "tpch.customer": "c_acctbal",
    "app.events": "value",
}

ADDED_COLUMN = ("tpch.orders", "o_clerk")
WIDENED_COLUMN = ("tpch.customer", "c_nationkey")
TRUNCATED_TABLE = "tpch.customer"


# Source-row counts and event counts of one spool.
Sizes = collections.namedtuple("Sizes", "orders customers events updates_per_wave waves "
                                        "deletes replay_lines files delta_events")


def load_sources(sf_dir, sizes, seed):
    """Selected source rows per envelope table, ordered by primary key.

    Each table contributes a contiguous key window whose start the seed picks."""
    import duckdb
    rng = random.Random(seed * 7919 + 1)
    con = duckdb.connect()
    try:
        def window(table, key, n):
            total = con.execute(f"SELECT max({key}) + 1 FROM '{sf_dir}/{table}.parquet'").fetchone()[0]
            lo = rng.randrange(0, max(1, total - n))
            return lo, lo + n

        o_lo, o_hi = window("orders", "o_orderkey", sizes.orders)
        c_lo, c_hi = window("customer", "c_custkey", sizes.customers)
        e_lo, e_hi = window("events", "event_id", sizes.events)
        where = {
            "orders": f"o_orderkey >= {o_lo} AND o_orderkey < {o_hi}",
            "lineitem": f"l_orderkey >= {o_lo} AND l_orderkey < {o_hi}",
            "customer": f"c_custkey >= {c_lo} AND c_custkey < {c_hi}",
            "events": f"event_id >= {e_lo} AND event_id < {e_hi}",
        }
        out = {}
        for name, src, pk, select in TABLES:
            cur = con.execute(
                f"SELECT {select} FROM '{sf_dir}/{src}.parquet' WHERE {where[src]} "
                f"ORDER BY {', '.join(pk)}")
            cols = [d[0] for d in cur.description]
            out[name] = (cols, [dict(zip(cols, r)) for r in cur.fetchall()])
        return out
    finally:
        con.close()


class _State:
    """Current image and liveness of every key, so updates carry full after-images."""

    def __init__(self, sources):
        self.cols = {t: list(c) for t, (c, _) in sources.items()}
        self.rows = {t: [dict(r) for r in rows] for t, (_, rows) in sources.items()}
        self.live = {t: [True] * len(rows) for t, (_, rows) in sources.items()}


def _envelope(table, op, before, after, ts_ms):
    return json.dumps({"table": table, "op": op, "before": before, "after": after,
                       "source": {"ts_ms": ts_ms}}, separators=(",", ":"))


def _skewed_index(rng, n):
    # cube of a uniform draw: about a fifth of the updates land on the hottest 1% of keys
    return min(n - 1, int(n * rng.random() ** 3))


def _update(rng, table, cols, row, alive, ts_ms, widen=False):
    """Change `row` in place; an update of a deleted key re-inserts it."""
    col = UPDATED_COLUMN[table]
    old = row[col] if row[col] is not None else 0.0
    row[col] = round(old * (0.9 + rng.random() * 0.2) + 1.0, 2)
    if widen:
        row[WIDENED_COLUMN[1]] = row[WIDENED_COLUMN[1]] + 0.5
    return _envelope(table, "u" if alive else "c", None, {c: row.get(c) for c in cols}, ts_ms)


def _delete(rng, table, row, ts_ms):
    """A PK-only delete, usually followed by its tombstone."""
    pk = {k: row[k] for k in PRIMARY_KEYS[table.replace(".", "_")]}
    out = [_envelope(table, "d", pk, None, ts_ms)]
    if rng.random() < 0.75:
        out.append(_envelope(table, "d", None, None, ts_ms))
    return out


def _interleave(rng, per_table):
    """Merge per-table event lists, keeping each table's own order."""
    pools = [list(reversed(evs)) for evs in per_table if evs]
    out = []
    while pools:
        pick = rng.choices(range(len(pools)), weights=[len(p) for p in pools])[0]
        out.append(pools[pick].pop())
        if not pools[pick]:
            pools.pop(pick)
    return out


class Spool:
    """Generated bulk files (name -> lines) and the bulk end state the delta starts from."""

    def __init__(self, files, state, seed, ts_ms, sizes):
        self.files = files
        self._state = state
        self._seed = seed
        self._ts_ms = ts_ms
        self._sizes = sizes

    def delta(self):
        """Lines of the delta: updates and deletes on keys alive after the bulk history,
        one minute after its last event."""
        rng = random.Random(self._seed * 1_000_003 + 1)
        st = self._state
        rows, live = {}, {}
        tables = [t for t, _, _, _ in TABLES]
        ts = self._ts_ms + 60_000
        lines = []
        while len(lines) < self._sizes.delta_events:
            t = rng.choice(tables)
            i = rng.randrange(len(st.rows[t]))
            if not live.get((t, i), st.live[t][i]):
                continue
            ts += rng.randint(1, 3)
            if rng.random() < 0.15:
                live[(t, i)] = False
                lines.extend(_delete(rng, t, st.rows[t][i], ts))
            else:
                row = rows.setdefault((t, i), dict(st.rows[t][i]))
                lines.append(_update(rng, t, st.cols[t], row, True, ts))
        return lines


def generate(sources, seed, sizes):
    """Bulk spool for `seed`: {file name: [lines]} in arrival order, plus the delta's state."""
    rng = random.Random(seed)
    st = _State(sources)
    ts = 1_700_000_000_000 + (seed % 100_000) * 1000
    tables = [t for t, _, _, _ in TABLES]

    def tick():
        nonlocal ts
        ts += rng.randint(1, 3)
        return ts

    # inserts: every selected row, tables interleaved, each table in key order
    inserts = _interleave(rng, [[(t, i) for i in range(len(st.rows[t]))] for t in tables])
    lines = [_envelope(t, "c", None, {c: st.rows[t][i].get(c) for c in st.cols[t]}, tick())
             for t, i in inserts]

    for wave in range(sizes.waves):
        if wave == 1:  # ADD-column: the new column is part of every later orders image
            t, c = ADDED_COLUMN
            st.cols[t].append(c)
            for row in st.rows[t]:
                row[c] = "Clerk#%09d" % (row["o_orderkey"] % 1000)
        for _ in range(sizes.updates_per_wave):
            t = rng.choice(tables)
            i = _skewed_index(rng, len(st.rows[t]))
            widen = wave == 2 and t == WIDENED_COLUMN[0]
            lines.append(_update(rng, t, st.cols[t], st.rows[t][i], st.live[t][i], tick(),
                                 widen=widen))
            st.live[t][i] = True
        if wave == sizes.waves // 2:
            for _ in range(sizes.deletes):
                t = rng.choice(tables)
                i = rng.randrange(len(st.rows[t]))
                if st.live[t][i]:
                    st.live[t][i] = False
                    lines.extend(_delete(rng, t, st.rows[t][i], tick()))
            lines.append(_envelope(TRUNCATED_TABLE, "t", None, None, tick()))

    # split into files, then re-deliver one contiguous line range as its own file
    per = -(-len(lines) // sizes.files)
    chunks = [lines[i:i + per] for i in range(0, len(lines), per)]
    at = len(chunks) // 2
    start = rng.randrange(0, max(1, len(chunks[at]) - sizes.replay_lines))
    chunks.insert(at + 1, chunks[at][start:start + sizes.replay_lines])
    files = {"bulk-%05d.jsonl" % n: c for n, c in enumerate(chunks)}
    return Spool(files, st, seed, ts, sizes)


def write_files(directory, files):
    """Write {name: lines} as newline-terminated UTF-8 files; returns total bytes."""
    os.makedirs(directory, exist_ok=True)
    total = 0
    for name, lines in files.items():
        data = ("\n".join(lines) + "\n").encode("utf-8") if lines else b""
        with open(os.path.join(directory, name), "wb") as f:
            f.write(data)
        total += len(data)
    return total
