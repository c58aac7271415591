"""Correctness checks, made apart from the program.

Each check compares what the program produced with what the benchmark
itself knows: DuckDB's answers to the oracle SQL, the list of events the
generator wrote, or the catalog model built from the text the generator
wrote. Every check returns (failed operations, messages).

`python3 perfbench/check.py --self-test` hands each check a wrong output
and fails unless every check notices.
"""
import collections
import hashlib
import json
import os
import sys

import numpy as np


# ---------------------------------------------------------------- queries

def canon(df):
    """Order-free, dtype-sensitive form of a result: sorted column names and
    the sorted reprs of the numpy cell values (pandas via DuckDB on both
    sides, so DECIMAL/HUGEINT/float differences stay visible)."""
    df = df[sorted(df.columns)]
    rows = sorted(tuple(repr(v) for v in r) for r in df.itertuples(index=False, name=None))
    return list(df.columns), rows


def digest(df):
    return hashlib.sha256(json.dumps(canon(df)).encode()).hexdigest()


def check_queries(expected, actual, errors):
    """`expected`/`actual`: query name -> digest; `errors`: name -> message
    for queries that threw (counted as failed, not as wrong)."""
    wrong = [n for n in expected if n not in errors and actual.get(n) != expected[n]]
    return wrong, [f"query {n}: result differs from the DuckDB oracle" for n in wrong]


# ----------------------------------------------------------------- events

EVENT_KEY = ("timestamp", "user_id", "event_name")


def event_key(ev):
    return tuple(ev.get(k) for k in EVENT_KEY)


def check_events(sent_lines, sink_rows, funnel_rows, catalog):
    """Every distinct sent event is in the sink exactly once, re-deliveries
    removed; enrichment equals the catalog join; the funnel over the sink
    equals hourly counts taken from the generator's list. Returns the
    number of events not held exactly once, and messages."""
    distinct = {}
    for ln in sent_lines:
        ev = json.loads(ln)
        distinct.setdefault(event_key(ev), ev)
    held = collections.Counter(event_key(r) for r in sink_rows)
    failed = sum(1 for k in distinct if held.get(k, 0) != 1)
    extra = sum(c for k, c in held.items() if k not in distinct)
    msgs = []
    if failed:
        msgs.append(f"{failed} of {len(distinct)} events not held exactly once")
    if extra:
        msgs.append(f"{extra} sink rows match no sent event")
        failed += extra
    dim = {c["ItemID"]: c for c in catalog}
    bad_enrich = 0
    for r in sink_rows:
        c = dim.get(r.get("item_id"))
        want = ((c["Title"], c["Genre"], np.float32(c["ListPrice"])) if c
                else (None, None, None))
        got = (r.get("title_enriched"), r.get("genre_enriched"),
               None if r.get("list_price_enriched") is None
               else np.float32(r["list_price_enriched"]))
        if want != got:
            bad_enrich += 1
    if bad_enrich:
        msgs.append(f"{bad_enrich} sink rows disagree with the catalog join")
    want_funnel = collections.defaultdict(lambda: [0, 0, 0])
    slot = {"item_view": 0, "added_to_cart": 1, "checkout_to_cart": 2}
    for k, ev in distinct.items():
        if held.get(k, 0) and ev["event_name"] in slot:
            want_funnel[ev["timestamp"][:13] + ":00:00"][slot[ev["event_name"]]] += 1
        elif held.get(k, 0):
            want_funnel[ev["timestamp"][:13] + ":00:00"]
    got_funnel = {r["start"]: [r["views"], r["cart_adds"], r["checkouts"]] for r in funnel_rows}
    if dict(want_funnel) != got_funnel:
        msgs.append(f"funnel differs: want {dict(want_funnel)} got {got_funnel}")
    return failed, msgs, bad_enrich == 0 and dict(want_funnel) == got_funnel


# ---------------------------------------------------------------- catalog

def _row(r):
    return (r[0], r[1], r[2], None if r[3] is None else np.float32(r[3]))


def _want(rows):
    return sorted((i, t, g, np.float32(p)) for i, (t, g, p) in rows.items())


def check_catalog(model, table_rows_fn, dumps, topic, range_len):
    """`dumps`: per cycle the table rows and lookup rows the program served;
    `topic`: published (movie_id, title) frames per topic segment. A cycle
    fails when its table, a lookup or its frames disagree with the model."""
    failed, msgs = set(), []
    by_cycle = {d["cycle"]: d for d in dumps}
    last_model = None
    for c, cyc in enumerate(model["cycles"], start=1):
        if c not in by_cycle:
            break
        d = by_cycle[c]
        want = table_rows_fn(cyc["items"])
        last_model = want
        if sorted(_row(r) for r in d["table"]) != _want(want):
            failed.add(c); msgs.append(f"cycle {c}: table differs from the model")
        looks = [[k] for k in cyc["points"]] + [list(range(k, k + range_len)) for k in cyc["ranges"]]
        for keys, got in zip(looks, d["lookups"]):
            exp = _want({k: want[k] for k in keys if k in want})
            if sorted(_row(r) for r in got) != exp:
                failed.add(c); msgs.append(f"cycle {c}: lookup {keys[0]} differs")
        if len(d["lookups"]) != len(looks):
            failed.add(c); msgs.append(f"cycle {c}: {len(d['lookups'])} lookups served")
    closing = [d for d in dumps if d["cycle"] == "closing"]
    if closing and last_model is not None and \
            sorted(_row(r) for r in closing[0]["table"]) != _want(last_model):
        msgs.append("closing OPTIMIZE/VACUUM changed rows")
        failed.add(max(by_cycle.keys() - {"closing"}))
    # published frames: segment 0 is the starting catalog, segment c cycle c
    seen = collections.Counter(m for seg in topic for m, _ in seg)
    twice = sorted(m for m, n in seen.items() if n > 1)
    if twice:
        msgs.append(f"items published more than once: {twice[:5]}")
    start = table_rows_fn(model["start_items"])
    want_segs = [{str(i): start[i][0] for i in model["start"]}]
    for c, cyc in enumerate(model["cycles"], start=1):
        if c not in by_cycle:
            break
        rows = table_rows_fn(cyc["items"])
        titles = {i: rows[i][0] if i in rows else None for i in cyc["new"]}
        want_segs.append({str(i): t for i, t in titles.items()})
    for c, (want, seg) in enumerate(zip(want_segs, topic)):
        got = {m: t for m, t in seg}
        if got != want or len(seg) != len(want):
            msgs.append(f"topic segment {c}: published frames differ from the new items")
            if c:
                failed.add(c)
    if len(topic) != len(want_segs):
        msgs.append(f"{len(topic)} topic segments for {len(want_segs)} publishes")
    return len(failed), msgs, not msgs


# -------------------------------------------------------------- self-test

def self_test():
    import random
    import tempfile
    import duckdb
    import pandas as pd
    import gen
    here = os.path.dirname(os.path.abspath(__file__))
    ok = True

    def expect(name, cond):
        nonlocal ok
        print(("PASS " if cond else "FAIL ") + name)
        ok &= cond

    # query: one changed cell in a real oracle answer
    cache = json.load(open(os.path.join(here, "oracle_cache.json")))
    name = gen.QUERIES[0]
    entry = cache["queries"][name]
    con = duckdb.connect()
    data = os.path.join(here, "data", "sf0.001")
    for t in os.listdir(data):
        con.execute(f"CREATE VIEW {t.split('.')[0]} AS SELECT * FROM '{data}/{t}'")
    df = con.execute(entry["sql"]).df()
    expect(f"query {name}: the oracle answer passes",
           not check_queries({name: entry["digest"]}, {name: digest(df)}, {})[0])
    bad = df.copy()
    col = bad.columns[-1]
    v = bad.iloc[0][col]
    if isinstance(v, str):
        v = v + "x"
    elif isinstance(v, pd.Timestamp):
        v = v + pd.Timedelta(days=1)
    else:
        v = v + 1
    bad.loc[bad.index[0], col] = v
    expect(f"query {name}: one changed cell is caught",
           bool(check_queries({name: entry["digest"]}, {name: digest(bad)}, {})[0]))

    # events: one event dropped and one duplicated
    with tempfile.TemporaryDirectory() as d:
        m = gen.event_stream(7, d, 1)
    sent = m["sent_lines"][:3000]
    dim = {c["ItemID"]: c for c in m["catalog"]}
    uniq = {}
    for ln in sent:
        ev = json.loads(ln)
        uniq.setdefault(event_key(ev), ev)
    sink = []
    for ev in uniq.values():
        c = dim.get(ev.get("item_id"))
        sink.append(dict(ev, title_enriched=c and c["Title"], genre_enriched=c and c["Genre"],
                         list_price_enriched=c and c["ListPrice"]))
    funnel = collections.defaultdict(lambda: [0, 0, 0])
    for ev in uniq.values():
        f = funnel[ev["timestamp"][:13] + ":00:00"]
        for j, n in enumerate(("item_view", "added_to_cart", "checkout_to_cart")):
            f[j] += ev["event_name"] == n
    frows = [{"start": k, "views": v[0], "cart_adds": v[1], "checkouts": v[2]}
             for k, v in funnel.items()]
    failed, _, good = check_events(sent, sink, frows, m["catalog"])
    expect("events: the exact sink passes", failed == 0 and good)
    broken = sink[1:] + [sink[5]]
    failed, _, _ = check_events(sent, broken, frows, m["catalog"])
    expect("events: one dropped and one duplicated event are caught", failed == 2)

    # catalog: one changed Title, one item published twice
    with tempfile.TemporaryDirectory() as d:
        m = gen.catalog_cycles(3, d)
    start = gen.table_rows(m["start_items"])
    dumps, topic = [], [[(str(i), start[i][0]) for i in m["start"]]]
    for c, cyc in enumerate(m["cycles"][:3], start=1):
        rows = gen.table_rows(cyc["items"])
        looks = [[k] for k in cyc["points"]] + \
            [range(k, k + gen.CATALOG["range_len"]) for k in cyc["ranges"]]
        dumps.append({"cycle": c, "table": [[i, *rows[i]] for i in rows],
                      "lookups": [[[k, *rows[k]] for k in ks if k in rows] for ks in looks]})
        topic.append([(str(i), rows[i][0] if i in rows else None) for i in cyc["new"]])
    dumps.append(dict(dumps[-1], cycle="closing", lookups=[]))
    rl = gen.CATALOG["range_len"]
    failed, msgs, good = check_catalog(m, gen.table_rows, dumps, topic, rl)
    expect("catalog: the exact table and topic pass", failed == 0 and good)
    bad = json.loads(json.dumps(dumps))
    bad[1]["table"][random.Random(1).randrange(len(bad[1]["table"]))][1] = "Changed"
    failed, _, _ = check_catalog(m, gen.table_rows, bad, topic, rl)
    expect("catalog: one changed Title is caught", failed == 1)
    twice = [list(s) for s in topic]
    twice[2] = twice[2] + [twice[1][0]]
    failed, msgs, good = check_catalog(m, gen.table_rows, dumps, twice, rl)
    expect("catalog: one item published twice is caught", not good and failed == 1)
    return ok


if __name__ == "__main__":
    if sys.argv[1:] != ["--self-test"]:
        sys.exit("usage: python3 perfbench/check.py --self-test")
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    sys.exit(0 if self_test() else 1)
