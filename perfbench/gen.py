"""Seeded input generator for the graft benchmark.

Every input the engine reads during a run is written here, before the
JVM starts, into the run's own work directory; the same seed always
gives byte-identical files. Three input sets:

- ``stream``: NDJSON events in ``EventsSource.eventSchema`` for the
  ``ingest_stream`` workload, one file per micro-batch (the file source
  runs with ``maxFilesPerTrigger = 1``). File modification times increase
  with the file index, so the file source replays them in generation
  order.
- ``topic`` + ``tables``: the ``query_mix`` inputs. The topic
  is the reference demo's ``entry-events`` wire format (timestamp in
  epoch ms, subject, teacher, room, points, student{name, house});
  ``events.parquet`` is the engine's events table for the native keys.
  ``tables`` also holds the star-schema tables the operator keys read,
  always from seed 42 so every run reads the same graph.
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["view", "click", "purchase", "signup", "error", "share"]
# event-type skew: views dominate, errors and shares are rare
EVENT_TYPE_P = [0.45, 0.25, 0.12, 0.08, 0.06, 0.04]
HOUR_MS = 3_600_000
# Disorder stays well inside EventPipeline.hourlyCounts' 30-minute
# watermark: an event is never older than the newest earlier event by
# more than this, so no event is ever dropped as late.
MAX_DISORDER_MS = 20 * 60_000
OUT_OF_ORDER_SHARE = 0.10


def _done(path):
    return os.path.exists(os.path.join(path, "_DONE"))


def _mark(path, meta):
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    open(os.path.join(path, "_DONE"), "w").close()


def _zipf_ids(rng, n_ids, n, a=1.2):
    """Ids in [0, n_ids) with a power-law skew (a few hot users)."""
    ranks = np.arange(1, n_ids + 1, dtype=np.float64)
    p = ranks ** -a
    p /= p.sum()
    perm = rng.permutation(n_ids)
    return perm[rng.choice(n_ids, size=n, p=p)]


def _events(rng, n, t0_ms, step_ms, n_users):
    """n events with increasing base time, 10% jittered back in time.

    Values are multiples of 0.25, so every sum over them is exact in
    binary floating point and the oracle can demand equality."""
    base = t0_ms + np.arange(n, dtype=np.int64) * step_ms
    late = rng.random(n) < OUT_OF_ORDER_SHARE
    jitter = rng.integers(1, MAX_DISORDER_MS, n)
    ts = base - np.where(late, jitter, 0)
    users = _zipf_ids(rng, n_users, n)
    types = rng.choice(len(EVENT_TYPES), size=n, p=EVENT_TYPE_P)
    value = rng.integers(0, 400, n) * 0.25
    k = rng.integers(0, 100, n)
    return ts, users, types, value, k, int(late.sum())


def _ndjson(path, first_id, ts, users, types, value, k):
    with open(path, "w") as f:
        f.writelines(
            '{"event_id":%d,"timestamp":%d,"user_id":%d,"event_type":"%s",'
            '"value":%r,"props":"{\\"k\\": %d}"}\n'
            % (first_id + i, ts[i], users[i], EVENT_TYPES[types[i]], float(value[i]), k[i])
            for i in range(len(ts)))


def gen_stream(out, seed, backlog_files, backlog_per_file, trickle_files,
               trickle_per_file):
    """Backlog (large batches) and trickle (small batches)."""
    if _done(out):
        return
    rng = np.random.default_rng(seed)
    meta = {"seed": seed}
    mtime = 1_700_000_000
    t0 = 1_704_067_200_000  # 2024-01-01T00:00:00Z
    next_id = 0
    for phase, files, per in (("backlog", backlog_files, backlog_per_file),
                              ("trickle", trickle_files, trickle_per_file)):
        d = os.path.join(out, phase)
        os.makedirs(d, exist_ok=True)
        n = files * per
        # 4 events per second of event time: the backlog spans ~8 hourly
        # windows, the trickle one or two
        ts, users, types, value, k, n_late = _events(rng, n, t0, 250, 20_000)
        for i in range(files):
            p = os.path.join(d, "part-%05d.json" % i)
            s = slice(i * per, (i + 1) * per)
            _ndjson(p, next_id + i * per, ts[s], users[s], types[s], value[s], k[s])
            os.utime(p, (mtime, mtime))
            mtime += 1
        meta[phase + "_events"] = n
        meta[phase + "_files"] = files
        meta[phase + "_late"] = n_late
        next_id += n
        t0 = int(ts.max()) + HOUR_MS
    _mark(out, meta)


SUBJECTS = ["Potions", "Charms", "Herbology", "Transfiguration"]
HOUSES = ["Gryffindor", "Hufflepuff", "Ravenclaw", "Slytherin"]
# sparse on purpose: ORDER BY points WITH FILL synthesizes the gaps
POINTS = [-10, -3, 0, 4, 7, 10]


def _wire(ts, subject, teacher, room, points, name, house):
    return ('{"timestamp": %d, "subject": "%s", "teacher": "T%d", "room": "R%d", '
            '"points": %d, "student": {"name": "S%d", "house": "%s"}}\n'
            % (ts, subject, teacher, room, points, name, house))


def gen_queries(out, seed, topic_events, topic_files, n_events, star):
    """The dialect catalog's topic, plus a table directory holding the
    star tables from ``star`` and the native keys' seeded events table.

    Topic events sit in hourly class slots (many students share one
    timestamp, as in the demo's corpus) over ~100 days, so the Step 3
    granular counts and the Step 4 daily states are non-trivial. The
    first and last four events each get a timestamp of their own, one
    per house, so ``argMin/argMax(..., timestamp)`` per house and
    ``ORDER BY timestamp DESC LIMIT 1`` have exactly one answer."""
    if _done(out):
        return
    rng = np.random.default_rng(seed)
    t0 = 1_378_022_400_000  # 2013-09-01T08:00:00Z, the demo's first school year
    n_slots = 2400
    body = topic_events - 8
    slot = np.sort(rng.integers(0, n_slots, body))
    ts = t0 + slot * HOUR_MS
    subj = rng.integers(0, 4, body)
    teacher = rng.integers(0, 7, body)
    room = rng.integers(0, 9, body)
    pts = np.array(POINTS)[rng.integers(0, len(POINTS), body)]
    name = rng.integers(0, 200, body)
    house = rng.integers(0, 4, body)
    lines = []
    for h in range(4):  # the four earliest events, one per house
        lines.append(_wire(t0 - (4 - h) * HOUR_MS - 17_000, SUBJECTS[h], h, h, 4, 900 + h,
                           HOUSES[h]))
    lines += [_wire(ts[i], SUBJECTS[subj[i]], teacher[i], room[i], pts[i], name[i],
                    HOUSES[house[i]]) for i in range(body)]
    t_end = t0 + n_slots * HOUR_MS
    for h in range(4):  # the four latest events, one per house
        lines.append(_wire(t_end + h * HOUR_MS + 31_000, SUBJECTS[3 - h], h, h, 7, 950 + h,
                           HOUSES[h]))
    d = os.path.join(out, "topic")
    os.makedirs(d, exist_ok=True)
    per = (len(lines) + topic_files - 1) // topic_files
    for i in range(topic_files):
        with open(os.path.join(d, "part-%05d.json" % i), "w") as f:
            f.writelines(lines[i * per:(i + 1) * per])
    # the native keys' events table, in the engine's events schema
    ev_ts, users, types, value, k, _ = _events(rng, n_events, 1_704_067_200_000, 2_591, 5_000)
    tables = os.path.join(out, "tables")
    shutil.copytree(star, tables)
    _events_parquet(os.path.join(tables, "events.parquet"), ev_ts, users, types, value, k)
    _mark(out, {"seed": seed, "topic_events": len(lines), "events": n_events})


def _events_parquet(path, ts_ms, users, types, value, k):
    n = len(ts_ms)
    us = ts_ms.astype(np.int64) * 1000
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(us, pa.timestamp("us")),
        "user_id": pa.array(users, pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[types]),
        "value": pa.array(value, pa.float64()),
        "props": ['{"k": %d}' % x for x in k],
    }), path, row_group_size=max(4096, n // 16))


def gen_tables(out, sf):
    """The star-schema tables the operator keys read, at scale factor
    ``sf``, always from seed 42: their work (graph rounds to a fixed
    point, join sizes) does not vary with the run's seed."""
    if _done(out):
        return
    rng = np.random.default_rng(42)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)

    def write(name, cols):
        t = pa.table(cols)
        pq.write_table(t, os.path.join(out, name + ".parquet"),
                       row_group_size=max(4096, (t.num_rows + 63) // 64))

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": ["NATION_%d" % i for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": ["Customer#%09d" % i for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": pa.array(segs[rng.integers(0, 5, n_cust)])})
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": ["Supplier#%09d" % i for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)})
    day_ms = 86_400_000
    d0 = np.datetime64("1995-01-01").astype("datetime64[ms]").astype(np.int64)
    d1 = np.datetime64("2001-08-01").astype("datetime64[ms]").astype(np.int64)
    odate = d0 + rng.integers(0, (d1 - d0) // day_ms + 1, n_ord) * day_ms
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("ms")),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n_ord)])})
    lo = np.sort(rng.integers(0, n_ord, n_li))
    idx = np.arange(n_li)
    start = np.where(np.concatenate([[True], lo[1:] != lo[:-1]]), idx, 0)
    np.maximum.accumulate(start, out=start)
    write("lineitem", {
        "l_orderkey": pa.array(lo, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array((idx - start + 1).astype(np.int32), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(odate[lo] + rng.integers(1, 96, n_li) * day_ms,
                               pa.timestamp("ms"))})
    _mark(out, {"seed": 42, "sf": sf})
