"""Independent last-write-wins model of a dedupe-mode CDC sync.

It replays spool lines in arrival order and predicts what `CdcRunner.run` must
export, without using any of the program's code:

  * a line's position is its first byte's offset over the name-sorted spool files;
  * truncates (`t`) and tombstones (no chosen image) are dropped;
  * the chosen image is `before` for a delete (PK only) and `after` otherwise;
  * per primary key, the line with the highest position wins; a winning delete
    exports as a row with `KBC__DELETED = true`;
  * payload columns appear in first-seen order, then the system columns;
  * `state.json`'s `last_offset` is one past the highest staged position.

The output is compared through a digest: per table the row count and an
order-insensitive checksum of (primary key, winning position, deleted flag).
"""

import json

SYSTEM_COLUMNS = ["KBC__OPERATION", "KBC__EVENT_TIMESTAMP_MS", "KBC__DELETED",
                  "KBC__BATCH_EVENT_ORDER"]

_FNV_OFFSET = 0xCBF29CE484222325
_FNV_PRIME = 0x100000001B3
_MASK = (1 << 64) - 1


def fnv1a64(text):
    """64-bit FNV-1a over UTF-8 bytes (the JVM side computes the same)."""
    h = _FNV_OFFSET
    for b in text.encode("utf-8"):
        h = ((h ^ b) * _FNV_PRIME) & _MASK
    return h


def row_hash(key, pos, deleted):
    return fnv1a64("|".join(str(v) for v in key) + "|%d|%s" % (pos, "true" if deleted else "false"))


class Model:
    """LWW state of every table after the lines replayed so far."""

    def __init__(self, primary_keys):
        self.primary_keys = primary_keys
        self.tables = {}  # table id -> {"rows": {key: (pos, deleted)}, "columns": [...]}
        self.end = 0      # byte position after the last replayed line
        self.max_pos = -1

    def copy(self):
        m = Model(self.primary_keys)
        m.tables = {t: {"rows": dict(s["rows"]), "columns": list(s["columns"])}
                    for t, s in self.tables.items()}
        m.end, m.max_pos = self.end, self.max_pos
        return m

    def apply_lines(self, lines):
        for line in lines:
            pos = self.end
            self.end += len(line.encode("utf-8")) + 1
            ev = json.loads(line)
            op = ev.get("op")
            if op == "t":
                continue
            image = ev.get("before") if op == "d" else ev.get("after")
            if image is None:
                continue
            tid = ev["table"].replace(".", "_")
            t = self.tables.setdefault(tid, {"rows": {}, "columns": []})
            for c in image:
                if c not in t["columns"]:
                    t["columns"].append(c)
            key = tuple(image[k] for k in self.primary_keys[tid])
            t["rows"][key] = (pos, op == "d")
            self.max_pos = max(self.max_pos, pos)

    def expected(self):
        """Digest the program's outputs must match."""
        tables = {}
        for tid, t in sorted(self.tables.items()):
            checksum = 0
            for key, (pos, deleted) in t["rows"].items():
                checksum = (checksum + row_hash(key, pos, deleted)) & _MASK
            tables[tid] = {"rows": len(t["rows"]), "checksum": str(checksum),
                           "columns": t["columns"] + SYSTEM_COLUMNS,
                           "primary_key": self.primary_keys[tid]}
        return {"tables": tables, "last_offset": self.max_pos + 1}


def compare(expected, actual):
    """Mismatch descriptions between a model digest and the program's output digest."""
    problems = []
    if actual.get("last_offset") != expected["last_offset"]:
        problems.append("last_offset %s != %s" % (actual.get("last_offset"), expected["last_offset"]))
    got = actual.get("tables", {})
    if set(got) != set(expected["tables"]):
        problems.append("tables %s != %s" % (sorted(got), sorted(expected["tables"])))
    for tid, exp in expected["tables"].items():
        g = got.get(tid)
        if g is None:
            continue
        for field in ("rows", "checksum", "columns", "primary_key"):
            if g.get(field) != exp[field]:
                problems.append("%s.%s %s != %s" % (tid, field, g.get(field), exp[field]))
    return problems
