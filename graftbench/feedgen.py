"""Seeded Singer feed generator for the singer_sync workload.

One feed file per sync. Each holds a SCHEMA for each of three streams, about
`records` RECORDs per stream (ids continue from sync to sync), a STATE every
500 records and a final STATE. About 1% of the records are
mistyped (a non-numeric value in a numeric field), so graft's loader rejects
them. The feed covers date-times, a decimal carried as a string
(`format: singer.decimal`) and one nested object.

`generate` also writes `expected.json`: per file its size, its record count,
the rows each stream should load, the records each should reject and the
final STATE. The same seed gives byte-identical files.
"""
import datetime
import json
import os
import random

STREAMS = ("orders", "events", "customers")

SCHEMAS = {
    "orders": {
        "type": "object",
        "properties": {
            "id": {"type": ["integer"]},
            "customer_id": {"type": ["integer", "null"]},
            "amount": {"type": ["string", "null"], "format": "singer.decimal",
                       "precision": 12, "scale": 2},
            "status": {"type": ["string", "null"]},
            "created_at": {"type": ["string"], "format": "date-time"},
            "shipping": {"type": ["object", "null"], "properties": {
                "city": {"type": ["string", "null"]},
                "zip": {"type": ["string", "null"]}}},
        },
    },
    "events": {
        "type": "object",
        "properties": {
            "id": {"type": ["integer"]},
            "user_id": {"type": ["integer", "null"]},
            "event_type": {"type": ["string", "null"]},
            "value": {"type": ["number", "null"]},
            "ts": {"type": ["string"], "format": "date-time"},
        },
    },
    "customers": {
        "type": "object",
        "properties": {
            "id": {"type": ["integer"]},
            "name": {"type": ["string", "null"]},
            "email": {"type": ["string", "null"]},
            "score": {"type": ["number", "null"]},
            "signup_at": {"type": ["string", "null"], "format": "date-time"},
        },
    },
}

# the field each stream's mistyped records carry a non-numeric string in
MISTYPED = {"orders": "customer_id", "events": "value", "customers": "score"}

EPOCH = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
STATUSES = ("new", "paid", "shipped", "returned")
EVENT_TYPES = ("click", "view", "cart", "buy", "scroll")
CITIES = ("Lisbon", "Oslo", "Quito", "Osaka", "Perth", "Tunis")
STATE_EVERY = 500
REJECT_RATE = 0.01


def _ts(seconds):
    return (EPOCH + datetime.timedelta(seconds=seconds)).strftime("%Y-%m-%dT%H:%M:%SZ")


def _record(rng, stream, i):
    if stream == "orders":
        return {"id": i, "customer_id": rng.randrange(50000),
                "amount": "%d.%02d" % (rng.randrange(100000), rng.randrange(100)),
                "status": STATUSES[rng.randrange(len(STATUSES))],
                "created_at": _ts(i * 37),
                "shipping": {"city": CITIES[rng.randrange(len(CITIES))],
                             "zip": "%05d" % rng.randrange(100000)}}
    if stream == "events":
        return {"id": i, "user_id": rng.randrange(20000),
                "event_type": EVENT_TYPES[rng.randrange(len(EVENT_TYPES))],
                "value": round(rng.random() * 1000, 3), "ts": _ts(i * 11)}
    return {"id": i, "name": "customer-%d" % i, "email": "c%d@example.com" % i,
            "score": round(rng.random() * 100, 2), "signup_at": _ts(i * 53)}


def _line(msg):
    return json.dumps(msg, separators=(",", ":")) + "\n"


def generate(out_dir, seed, files, records=2000):
    """Write `files` feed files and `expected.json` into `out_dir`; return
    the expected document."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    expected = {"streams": list(STREAMS), "files": []}
    for f in range(files):
        name = "sync-%04d.jsonl" % f
        rows = {s: 0 for s in STREAMS}
        rejected = {s: 0 for s in STREAMS}
        bookmarks = {}
        lines = [_line({"type": "SCHEMA", "stream": s, "schema": SCHEMAS[s],
                        "key_properties": ["id"]}) for s in STREAMS]
        state = None
        for n in range(records):
            for s in STREAMS:
                i = f * records + n
                rec = _record(rng, s, i)
                if rng.random() < REJECT_RATE:
                    rec[MISTYPED[s]] = "n/a"
                    rejected[s] += 1
                else:
                    rows[s] += 1
                lines.append(_line({"type": "RECORD", "stream": s, "record": rec}))
                bookmarks[s] = {"replication_key": "id", "replication_key_value": i}
            if (n + 1) % STATE_EVERY == 0 or n + 1 == records:
                state = {"bookmarks": {s: dict(bookmarks[s]) for s in STREAMS},
                         "sync": f, "records_seen": n + 1}
                lines.append(_line({"type": "STATE", "value": state}))
        data = "".join(lines).encode("utf-8")
        with open(os.path.join(out_dir, name), "wb") as fh:
            fh.write(data)
        expected["files"].append({
            "file": name, "bytes": len(data), "records": records * len(STREAMS),
            "rows": rows, "rejected": rejected, "state": state})
    with open(os.path.join(out_dir, "expected.json"), "w") as fh:
        json.dump(expected, fh, sort_keys=True, indent=1)
    return expected
