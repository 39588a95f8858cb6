"""Output checks for the graft benchmark, computed apart from the program.

Every expected result is computed by DuckDB straight from the generated
input files, never from anything the engine wrote. The engine side is
the canonical JSON the harness writes to ``<run>/check`` (instants as
epoch microseconds, dates as ISO strings, structs and arrays as lists).
Rows are compared as multisets; values must be equal exactly (every
checked float is an exact sum or one IEEE division of exact integers).
"""
import datetime
import decimal
import glob
import json
import math
import os

import duckdb

EVENT_COLUMNS = ("{event_id: 'BIGINT', \"timestamp\": 'BIGINT', user_id: 'BIGINT', "
                 "event_type: 'VARCHAR', value: 'DOUBLE', props: 'VARCHAR'}")
WIRE_COLUMNS = ("{\"timestamp\": 'BIGINT', subject: 'VARCHAR', teacher: 'VARCHAR', "
                "room: 'VARCHAR', points: 'INTEGER', "
                "student: 'STRUCT(name VARCHAR, house VARCHAR)'}")
EPOCH = datetime.datetime(1970, 1, 1)


def canon(v):
    """A DuckDB or JSON value in the harness's canonical form."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return (d.days * 86_400 + d.seconds) * 1_000_000 + d.microseconds
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v) or math.isinf(v):
            return str(v).replace("nan", "NaN").replace("inf", "Infinity")
        return int(v) if v == int(v) and abs(v) < 1e15 else v
    if isinstance(v, dict):
        return [canon(x) for x in v.values()]
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    return v


def _table(columns, rows):
    return {"columns": list(columns), "rows": [[canon(x) for x in r] for r in rows]}


def _aligned(t, order):
    idx = [t["columns"].index(c) for c in order]
    return [[r[i] for i in idx] for r in t["rows"]]


def compare(name, got, exp):
    """None when `got` equals `exp`, else a one-line reason. Columns are
    matched by name when both sides name the same set, else by position."""
    if sorted(got["columns"]) == sorted(exp["columns"]):
        order = sorted(exp["columns"])
        g, e = _aligned(got, order), _aligned(exp, order)
    elif len(got["columns"]) == len(exp["columns"]):
        g, e = got["rows"], exp["rows"]
    else:
        return f"{name}: columns {got['columns']} vs oracle {exp['columns']}"
    key = lambda r: json.dumps(r, sort_keys=True)
    g, e = sorted(map(key, g)), sorted(map(key, e))
    if len(g) != len(e):
        return f"{name}: {len(g)} rows vs oracle {len(e)}"
    for a, b in zip(g, e):
        if a != b:
            return f"{name}: row {a} vs oracle {b}"
    return None


def _perturb(t):
    """The self-test: one expected value off by one."""
    for r in t["rows"]:
        for i, x in enumerate(r):
            if isinstance(x, (int, float)) and not isinstance(x, bool):
                r[i] = x + 1
                return t
    raise ValueError("no numeric value to perturb")


def _load(path):
    with open(path) as f:
        return json.load(f)


def _tables_con(tables):
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(tables, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    return con


def check_ingest(data, run, perturb):
    """Each drained sink's state equals DuckDB's (hour, event_type) count
    and sum over the files it drained; one row per key; the counts add
    up to the number of events generated."""
    con = duckdb.connect()
    with open(os.path.join(data, "meta.json")) as f:
        meta = json.load(f)
    events = {k[:-len("_events")]: v for k, v in meta.items() if k.endswith("_events")}
    errors, n = [], 0
    for path in sorted(glob.glob(os.path.join(run, "check", "ingest-*.json"))):
        phase = os.path.basename(path)[len("ingest-"):].rsplit("-r", 1)[0]
        got = _load(path)
        exp = _table(["bucket", "event_type", "n", "total_value"], con.execute(f"""
            SELECT date_trunc('hour', epoch_ms("timestamp")) AS bucket, event_type,
                   count(*) AS n, sum(value) AS total_value
            FROM read_json('{data}/{phase}/*.json', format='newline_delimited',
                           columns={EVENT_COLUMNS})
            GROUP BY 1, 2""").fetchall())
        if perturb and n == 0:
            _perturb(exp)
        n += 1
        name = os.path.basename(path)
        keys = [(r[got["columns"].index("bucket")], r[got["columns"].index("event_type")])
                for r in got["rows"]]
        if len(set(map(json.dumps, keys))) != len(keys):
            errors.append(f"{name}: more than one sink row per key")
        total = sum(r[got["columns"].index("n")] for r in got["rows"])
        if total != events[phase]:
            errors.append(f"{name}: sink holds {total} events, {events[phase]} generated")
        err = compare(name, got, exp)
        if err:
            errors.append(err)
    return n, errors


def _dialect_oracles():
    """Hand-written DuckDB SQL for each dialect statement the workload
    runs, over the topic's NDJSON."""
    g = """(SELECT ts, subject, count(*) AS c FROM see GROUP BY ts, subject)"""
    return {
        "ch.points_by_house":
            "SELECT student.house AS house, sum(points) FROM see GROUP BY 1",
        # avgMerge is one division of exact integer sums; the cutoff
        # split of the MV and backfill legs must not show
        "ch.daily_merge": f"""
            SELECT date_trunc('day', ts)::TIMESTAMP AS day, subject, max(c) AS max,
                   min(c) AS min, sum(c)::DOUBLE / count(*) AS avg
            FROM {g} GROUP BY 1, 2""",
        "ch.count": "SELECT count(*) FROM see",
        "ch.latest": """SELECT ts, subject, teacher, room, points, student
                        FROM see ORDER BY ts DESC LIMIT 1""",
        "ch.daypart": """
            SELECT date_trunc('month', ts)::DATE AS month,
                   CASE WHEN hour(ts) < 6 THEN 'night' WHEN hour(ts) < 12 THEN 'morning'
                        WHEN hour(ts) < 18 THEN 'afternoon' ELSE 'evening' END AS daypart,
                   count(*) AS entries, sum(points) AS net_points
            FROM see GROUP BY 1, 2""",
    }


def check_queries(data, run, perturb):
    """Each checked query's rows against its DuckDB oracle: the native
    keys' `SparkEntry.oracleSql` (exported by the harness) over the
    tables, and for the dialect the hand-written SQL above."""
    con = _tables_con(os.path.join(data, "tables"))
    oracles = _load(os.path.join(run, "oracle.json"))
    hand = _dialect_oracles()
    for name in oracles:
        if oracles[name] is None:
            oracles[name] = hand[name]
    con.execute(f"""CREATE VIEW see AS
            SELECT epoch_ms("timestamp") AS ts, subject, teacher, room, points, student
            FROM read_json('{data}/topic/*.json', format='newline_delimited',
                           columns={WIRE_COLUMNS})""")
    errors, n = [], 0
    for name in sorted(oracles):
        path = os.path.join(run, "check", name + ".json")
        if not os.path.exists(path):
            errors.append(f"{name}: no output")
            continue
        cur = con.execute(oracles[name])
        exp = _table([d[0] for d in cur.description], cur.fetchall())
        if perturb and n == 0:
            _perturb(exp)
        n += 1
        err = compare(name, _load(path), exp)
        if err:
            errors.append(err)
    return n, errors


def check(workload, data, run, perturb=False):
    """(number of outputs checked, list of failures)."""
    if workload == "ingest_stream":
        return check_ingest(data, run, perturb)
    return check_queries(data, run, perturb)
