"""Seeded Debezium backlog for the cdc_backlog workload, with its model.

Writes JSON-line files that `IngestorCli --mode cdc --brokers file:<dir>`
drains, plus what a correct ingestor must deliver, computed by an
expected-state model written from the reference's rules (cdc.go
translate and clickhouse.go JSONEachRow serialization), not from the
program's code:

  <name>/part-NNNNN.json  the backlog
  <name>.expected         one JSONEachRow wire line per delivered row
  <name>.final            FINAL state: newest _lsn per id, deletes dropped
  <name>.count            input lines

The bulk of the backlog is bare envelopes with ops c, u and d in the
ratio 3:6:1 over ids drawn uniformly from 200,000. That mix is an
assumption of this benchmark, not measured from a real database. On top
of it, at seeded positions, come a small fixed number of lines of each
edge case the checks need: upper-case and unknown ops, creates and
updates without `after`, double-encoded envelopes, unparseable payloads,
keyed records, deletes whose id falls back to the record key, a delete
with no id, null lsn / ts_us / email, and a few hot ids with many
versions each, so that FINAL has to pick among versions of one id.

Usage: python3 gen_cdc.py <out_dir> <seed> <files> <lines_per_file> <name>
"""
import json
import os
import random
import sys
import time

ID_SPACE = 200_000
FRESH_ID0 = 10 ** 9  # ids used once, for rows whose lsn is null
# lines of each edge case per backlog, and the hot ids with their versions
EDGE_LINES = 12
EDGE_CASES = ["upper_op", "unknown_op", "no_after", "unparseable", "keyed", "key_fallback_delete",
              "no_id_delete", "null_lsn", "null_ts", "null_email", "double_encoded"]
HOT_IDS, HOT_VERSIONS = 8, 24
TS0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


# ----------------------------------------------------------------- model

def wire(id_, name, email, deleted, op, lsn, ts_us):
    """clickhouse.go:113-124: exactly these fields, in this order, with
    `_ts` as second-truncated UTC "yyyy-MM-dd HH:mm:ss"."""
    ts = time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(ts_us // 1_000_000))
    return json.dumps({"id": id_, "name": name, "email": email, "is_deleted": deleted,
                       "_op": op, "_lsn": lsn, "_ts": ts}, separators=(",", ":"))


def decode_envelope(v):
    """cdc.go:87-98: unmarshal into the envelope; failing that, unmarshal
    a JSON string and the envelope inside it. None when neither works.
    `v` is the record value, already decoded once."""
    if isinstance(v, str):
        try:
            v = json.loads(v)
        except ValueError:
            return None
    return v if isinstance(v, dict) else None


def model_row(line):
    """The row a correct ingestor delivers for one input line, or None.

    A line is a bare envelope (the record value, no key) or a keyed
    record {"key": "<key json>", "value": "<envelope json>"}."""
    key = None
    try:
        value = json.loads(line)
    except ValueError:
        return None  # cdc.go:62-67: bad payload is skipped
    if isinstance(value, dict) and isinstance(value.get("value"), str):
        key = value.get("key")
        try:
            value = json.loads(value["value"])
        except ValueError:
            return None
    env = decode_envelope(value)
    if env is None:
        return None  # cdc.go:62-67: bad payload is skipped
    lsn = (env.get("source") or {}).get("lsn") or 0  # nil lsn -> 0
    ts_us = env.get("ts_us") or 0  # nil ts_us -> epoch
    op = env.get("op")
    if op in ("c", "u"):
        after = env.get("after")
        if after is None:
            return None  # c/u without after is dropped
        return wire(after["id"], after.get("name") or "", after.get("email") or "",
                    0, 1 if op == "c" else 2, lsn, ts_us)
    if op == "d":
        before = env.get("before") or {}
        id_ = before.get("id") or 0
        if not id_ and key is not None:
            try:
                id_ = (json.loads(key) or {}).get("id") or 0
            except ValueError:
                id_ = 0
        return wire(id_, "", "", 1, 3, lsn, ts_us)
    return None  # the op switch is case-sensitive; anything else drops


def final_state(rows):
    """ReplacingMergeTree(_lsn, is_deleted) FINAL: newest version per id,
    ids whose newest version is a delete are gone."""
    best = {}
    for line in rows:
        r = json.loads(line)
        cur = best.get(r["id"])
        if cur is None or r["_lsn"] > cur[0]:
            best[r["id"]] = (r["_lsn"], r["is_deleted"], line)
    return sorted(line for _, deleted, line in best.values() if not deleted)


# ------------------------------------------------------------- generator

def line_kinds(rng, n):
    """Kind of each of the n lines: "bulk", an edge case or ("hot", id)."""
    kinds = ["bulk"] * n
    special = [k for k in EDGE_CASES for _ in range(EDGE_LINES)] + \
        [("hot", h) for h in range(1, HOT_IDS + 1) for _ in range(HOT_VERSIONS)]
    for pos, k in zip(rng.sample(range(n), len(special)), special):
        kinds[pos] = k
    return kinds


def envelope_lines(rng, n, lsn0):
    fresh = FRESH_ID0 + lsn0
    for i, kind in enumerate(line_kinds(rng, n)):
        lsn = lsn0 + i + 1
        ts_us = TS0_US + lsn * 1000 + rng.randrange(1000)
        id_ = kind[1] if isinstance(kind, tuple) else rng.randrange(HOT_IDS + 1, ID_SPACE)
        user = {"id": id_, "name": f"user{id_}-v{lsn}", "email": f"u{id_}.{lsn}@example.com"}
        env = {"before": None, "after": user, "source": {"lsn": lsn, "ts_us": ts_us,
               "schema": "app", "table": "users"}, "op": "c", "ts_us": ts_us}
        op = rng.random()
        if op >= 0.9:
            env.update(op="d", before=user, after=None)
        elif op >= 0.3:
            env.update(op="u", before=dict(user, name=f"user{id_}-old"))
        key = None
        if kind == "upper_op":
            env["op"] = rng.choice(["C", "U", "D"])
        elif kind == "unknown_op":
            env["op"] = rng.choice(["r", "x", "", None])
        elif kind == "no_after":
            env.update(op=rng.choice(["c", "u"]), after=None)
        elif kind == "unparseable":
            yield rng.choice([f"garbage payload {lsn}", '{"op":"c","af',
                              json.dumps({"key": None, "value": f"not json {lsn}"})])
            continue
        elif kind == "keyed":
            key = json.dumps({"id": id_})
        elif kind == "key_fallback_delete":
            env.update(op="d", before=rng.choice([None, {"id": 0}]), after=None)
            key = json.dumps({"id": id_})
        elif kind == "no_id_delete":  # tombstone for id 0
            env.update(op="d", before=None, after=None)
        elif kind == "null_lsn":  # on an id used only once
            fresh += 1
            user.update(id=fresh, name=f"user{fresh}", email=f"u{fresh}@example.com")
            env["source"]["lsn"] = None
        elif kind == "null_ts":
            env["ts_us"] = None
        elif kind == "null_email":
            env.update(op="c", before=None, after=user)
            user["email"] = None
        value = json.dumps(env)
        if kind == "double_encoded":
            value = json.dumps(value)
        yield json.dumps({"key": key, "value": value}) if key is not None else value


def main():
    out, seed, files, per_file, name = sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), \
        int(sys.argv[4]), sys.argv[5]
    rng = random.Random(f"{name}:{seed}")
    d = os.path.join(out, name)
    os.makedirs(d, exist_ok=True)
    expected = []
    lines = envelope_lines(rng, files * per_file, rng.randrange(10 ** 6))
    for f in range(files):
        chunk = [next(lines) for _ in range(per_file)]
        with open(os.path.join(d, f"part-{f:05d}.json"), "w") as fh:
            fh.write("\n".join(chunk) + "\n")
        expected.extend(r for r in map(model_row, chunk) if r is not None)
    with open(os.path.join(out, f"{name}.expected"), "w") as fh:
        fh.write("\n".join(expected) + "\n")
    with open(os.path.join(out, f"{name}.final"), "w") as fh:
        fh.write("\n".join(final_state(expected)) + "\n")
    with open(os.path.join(out, f"{name}.count"), "w") as fh:
        fh.write(f"{files * per_file}\n")


if __name__ == "__main__":
    main()
