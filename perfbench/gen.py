"""Seeded inputs for the three workloads.

Each generator writes the inputs of one run into `in_dir` before the JVM
starts and returns the model the checker compares the program's outputs
against. The same seed gives the same inputs and the same model.
"""
import datetime as dt
import json
import os
import random

# A fixed sample of the declared queries whose warm round fits a short run:
# scan/filter/project, the custom top-k operator, windows, grouping sets,
# the range-join rewrite, z-order layout, the reference's funnel and a
# driver-local iterative operator (BPE). The full suite takes minutes per
# pass at sf0.001 on 4 cores, more than a benchmark run can spend.
QUERIES = ("q1_filter_project", "q31_topk_custom", "q5_window_topk", "q49_grouping_sets",
           "q45_range_join", "q65_zorder", "q61_funnel", "q109_bpe_train")

EVENT = dict(backlog=32000, rate=1000, segment=100, max_records_per_trigger=4000,
             trigger="500 milliseconds", dup_share=0.03, users=5000, warm=4000)
EVENT_MIX = [("item_view", 40), ("added_to_cart", 15), ("checkout_to_cart", 8),
             ("sign_in", 15), ("sign_out", 12), ("consumer_registration", 10)]
GENRES = ["Drama", "Comedy", "Action", "Documentary", "Horror", "Family", "Sci-Fi"]

CATALOG = dict(start_items=4000, start_files=120, new_per_cycle=200,
               changed_per_cycle=100, retired_per_cycle=50, cycles=6,
               maint_every=2, points=3, ranges=3, range_len=50)
RETIRED = "Retired"


def query_suite(seed, in_dir, data_dir):
    """QUERIES in an order drawn from the seed."""
    chosen = list(QUERIES)
    random.Random(seed).shuffle(chosen)
    with open(os.path.join(in_dir, "queries.txt"), "w") as f:
        f.write("\n".join(chosen) + "\n")
    with open(os.path.join(in_dir, "data_dir.txt"), "w") as f:
        f.write(data_dir)
    return {"queries": chosen}


# ---------------------------------------------------------------- events

def _catalog_dim(rng, n):
    return [{"ItemID": str(i), "Title": f"Title {i}", "Genre": rng.choice(GENRES),
             "ListPrice": round(rng.uniform(1, 60), 2)} for i in range(1, n + 1)]


def _events(rng, n, base, items):
    names = [e for e, w in EVENT_MIX for _ in range(w)]
    t = int(base.timestamp() * 1e6)
    out = []
    for _ in range(n):
        t += rng.randint(5000, 15000)
        name = rng.choice(names)
        ev = {"timestamp": dt.datetime.fromtimestamp(t / 1e6, dt.timezone.utc)
              .strftime("%Y-%m-%dT%H:%M:%S.%f"),
              "event_name": name, "user_id": str(rng.randint(1, EVENT["users"]))}
        if name in ("item_view", "added_to_cart"):
            ev["item_id"] = (str(rng.randint(1, items)) if rng.random() < 0.9
                             else str(900000 + rng.randint(0, 999)))
        if name in ("added_to_cart", "checkout_to_cart"):
            ev["cart_id"] = "%032x" % rng.getrandbits(128)
        if name == "checkout_to_cart":
            ev["payment_method"] = rng.choice(["Cash", "Card"])
        if name == "consumer_registration":
            ev["age"] = rng.randint(18, 95)
        out.append(json.dumps(ev, separators=(",", ":")))
    return out


def _with_redeliveries(rng, lines, share):
    keyed = [(float(i), ln) for i, ln in enumerate(lines)]
    keyed += [(i + rng.randint(1, 50) + 0.5, ln) for i, ln in enumerate(lines)
              if rng.random() < share]
    return [ln for _, ln in sorted(keyed, key=lambda x: x[0])]


def event_stream(seed, in_dir, seconds):
    rng = random.Random(seed)
    catalog = _catalog_dim(rng, 2000)
    n = EVENT["backlog"] + int(EVENT["rate"] * (seconds + 5))
    distinct = _events(rng, n, dt.datetime(2024, 1, 1, 0, 55, tzinfo=dt.timezone.utc),
                       len(catalog))
    sent = _with_redeliveries(rng, distinct, EVENT["dup_share"])
    warm = _with_redeliveries(rng, _events(
        rng, EVENT["warm"], dt.datetime(2023, 6, 1, tzinfo=dt.timezone.utc), len(catalog)),
        EVENT["dup_share"])
    _write_lines(os.path.join(in_dir, "events.jsonl"), sent)
    _write_lines(os.path.join(in_dir, "warm.jsonl"), warm)
    _write_lines(os.path.join(in_dir, "catalog.jsonl"), [json.dumps(c) for c in catalog])
    with open(os.path.join(in_dir, "stream.properties"), "w") as f:
        for k in ("backlog", "rate", "segment", "max_records_per_trigger", "trigger"):
            f.write(f"{k}={EVENT[k]}\n")
    return {"sent_lines": sent, "catalog": catalog}


# --------------------------------------------------------------- catalog

def _item_block(i, item):
    lines = [f"ITEM {i}"]
    if item["Title"] is not None:
        lines.append(f"Title = {item['Title']}")
    if item["Genre"] is not None:
        lines.append(f"Genre = {item['Genre']}")
    cents = int(round(item["price"] * 100))
    lines.append(f"ListPrice = {cents}USD${item['price']:.2f}")
    lines.append(f"Actor = Actor {i % 37}")
    return "\n".join(lines) + "\n\n"


def _new_item(rng, i):
    return {"Title": None if rng.random() < 0.03 else f"Movie {i}",
            "Genre": None if rng.random() < 0.05 else rng.choice(GENRES),
            "price": round(rng.uniform(1, 60), 2)}


def _write_catalog(path, items):
    with open(path, "w") as f:
        for i, item in enumerate(items, start=1):
            f.write(_item_block(i, item))


def _write_table(path, items, files):
    """The table the catalog text describes, as `files` parquet files with
    disjoint, ascending `item_id` ranges."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    rows = sorted(table_rows(items).items())
    os.makedirs(path)
    schema = pa.schema([("item_id", pa.int64()), ("Title", pa.string()),
                        ("Genre", pa.string()), ("ListPrice", pa.float32())])
    for k in range(files):
        part = rows[k * len(rows) // files:(k + 1) * len(rows) // files]
        pq.write_table(pa.table([[i for i, _ in part], [r[0] for _, r in part],
                                 [r[1] for _, r in part], [r[2] for _, r in part]],
                                schema=schema),
                       os.path.join(path, f"part-{k:05d}.parquet"))


def table_rows(items):
    """Rows the catalog table must hold for a catalog text: every item not
    retired, with the ETL's fills (Title "Unknown", Genre "Unknown Genre")."""
    return {i: (it["Title"] if it["Title"] is not None else "Unknown",
                it["Genre"] if it["Genre"] is not None else "Unknown Genre",
                it["price"])
            for i, it in enumerate(items, start=1) if it["Genre"] != RETIRED}


def _next_cycle(rng, items, c, cfg):
    items = [dict(it) for it in items]
    live = [i for i, it in enumerate(items, start=1) if it["Genre"] != RETIRED]
    for i in rng.sample(live, cfg["changed_per_cycle"]):
        it = items[i - 1]
        if rng.random() < 0.5:
            it["Title"] = f"Movie {i} rev{c}"
        else:
            it["price"] = round(rng.uniform(1, 60), 2)
    retired = sorted(rng.sample(live, cfg["retired_per_cycle"]))
    for i in retired:
        items[i - 1]["Genre"] = RETIRED
    start = len(items)
    items += [_new_item(rng, start + k + 1) for k in range(cfg["new_per_cycle"])]
    return items, retired


def _cycle_props(rng, path, items, retired, cfg):
    live = sorted(table_rows(items))
    points = rng.sample(live, cfg["points"])
    ranges = [rng.randint(1, len(items)) for _ in range(cfg["ranges"])]
    with open(path, "w") as f:
        f.write("retired=" + ",".join(map(str, retired)) + "\n")
        f.write("points=" + ",".join(map(str, points)) + "\n")
        f.write("ranges=" + ",".join(map(str, ranges)) + "\n")
    return points, ranges


def catalog_cycles(seed, in_dir):
    cfg = CATALOG
    rng = random.Random(seed)
    with open(os.path.join(in_dir, "catalog.properties"), "w") as f:
        for k in ("maint_every", "cycles", "range_len"):
            f.write(f"{k}={cfg[k]}\n")
    warm_cfg = dict(cfg, changed_per_cycle=20, retired_per_cycle=10, new_per_cycle=20)
    warm = [_new_item(rng, i) for i in range(1, 301)]
    _write_table(os.path.join(in_dir, "warm"), warm, 10)
    warm2, wr = _next_cycle(rng, warm, 1, warm_cfg)
    _write_catalog(os.path.join(in_dir, "warm2.txt"), warm2)
    _cycle_props(rng, os.path.join(in_dir, "warm2.properties"), warm2, wr, warm_cfg)

    items = [_new_item(rng, i) for i in range(1, cfg["start_items"] + 1)]
    _write_table(os.path.join(in_dir, "start"), items, cfg["start_files"])
    model = {"start": list(range(1, len(items) + 1)), "start_items": items, "cycles": []}
    for c in range(1, cfg["cycles"] + 1):
        prev = len(items)
        items, retired = _next_cycle(rng, items, c, cfg)
        _write_catalog(os.path.join(in_dir, f"c{c:03d}.txt"), items)
        points, ranges = _cycle_props(rng, os.path.join(in_dir, f"c{c:03d}.properties"),
                                      items, retired, cfg)
        model["cycles"].append({"items": items, "new": list(range(prev + 1, len(items) + 1)),
                                "points": points, "ranges": ranges})
    return model


def _write_lines(path, lines):
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
