"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of (seed, shape): the same seed gives
byte-identical files. Two generators:

* `tables(dst, seed, sf)`: the test-corpus star schema of TESTDATA.md
  (region, nation, customer, supplier, part, orders, lineitem) plus the
  `events`, `documents` and `embeddings` side tables, with the same parquet types,
  column names and value domains as the corpus the catalog's oracles were
  written against.
* `qc_series(dst, seed, ...)`: reference-shaped per-compound JSON arrays
  (`date`/`meas_date`/`value`/`flask_number`/year/month/day/lat/lon/alt),
  one `<compound>.json` per compound, plus the points as Python records for
  the replay in check.py.
"""
import datetime as _dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = ("a agg batch big column customer data fast filter group hash join "
          "key line merge order part query row scan slow small sort spark "
          "stream table the value vector window").split()
_LANGS = ["en", "en", "en", "en", "de", "es", "fr", "zh"]
_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _ts(us):
    """int64 microseconds since the epoch -> naive parquet TIMESTAMP(us)."""
    return pa.array(np.asarray(us, dtype="int64").astype("datetime64[us]"))


def _day_us(s):
    return int((np.datetime64(s, "us") - _EPOCH).astype("int64"))


def _write(table, path, row_group=None):
    pq.write_table(table, path, row_group_size=row_group)


def tables(dst, seed, sf):
    """Write the ten catalog tables at scale factor `sf` into `dst`."""
    os.makedirs(dst, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1_000, int(1_000_000 * sf))
    n_doc = max(50, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": _REGIONS}), f"{dst}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{dst}/nation.parquet")
    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype="int32"),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    }), f"{dst}/customer.parquet")
    _write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype="int32"),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }), f"{dst}/supplier.parquet")
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    _write(pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, n_part)],
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype="int32"),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    }), f"{dst}/part.parquet")

    d0, d1 = _day_us("1995-01-01"), _day_us("2001-08-01")
    day = 86_400_000_000
    odate = d0 + rng.integers(0, (d1 - d0) // day + 1, n_ord) * day
    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype="int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    }), f"{dst}/orders.parquet")

    lkey = rng.integers(0, n_ord, n_line, dtype="int64")
    qty = rng.integers(1, 51, n_line).astype("float64")
    ppart = rng.integers(0, n_part, n_line, dtype="int64")
    price = np.round(qty * (900.0 + (ppart % 1000) * 0.1) * rng.uniform(1.0, 2.1, n_line), 2)
    ship = odate[lkey] + rng.integers(1, 122, n_line) * day
    _write(pa.table({
        "l_orderkey": lkey,
        "l_partkey": ppart,
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype="int64"),
        "l_linenumber": rng.integers(1, 8, n_line, dtype="int32"),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(ship),
    }), f"{dst}/lineitem.parquet")

    # events: one month, ids ascending with time, exponential values
    month = 30 * day
    gaps = rng.exponential(month / n_ev, n_ev)
    ts = _day_us("2024-01-01") + np.minimum(np.cumsum(gaps), month - 1).astype("int64")
    _write(pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(ts),
        "user_id": rng.integers(0, max(10, n_cust // 10), n_ev, dtype="int64"),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }), f"{dst}/events.parquet")

    # documents: bag-of-words texts; ~5% near-duplicates (an earlier text
    # with " dup" appended) and a few exact copies
    texts = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            n = int(rng.integers(8, 100))
            texts.append(" ".join(np.array(_WORDS)[rng.integers(0, len(_WORDS), n)]))
    _write(pa.table({
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), n_doc)],
        "source": [f"src{k}" for k in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }), f"{dst}/documents.parquet")

    # embeddings: 10 labelled clusters of unit vectors in 64 dims
    centers = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, n_emb)
    vec = centers[label] + rng.normal(scale=0.6, size=(n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    _write(pa.table({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": label.astype("int32"),
    }), f"{dst}/embeddings.parquet")


def qc_series(dst, seed, n_compounds, n_points):
    """Write one reference-shaped JSON array per compound; return the points
    as {compound: [record, ...]} for the replay."""
    os.makedirs(dst, exist_ok=True)
    rng = np.random.default_rng(seed)
    t0 = _dt.datetime(2004, 1, 1, tzinfo=_dt.timezone.utc).timestamp()
    span = 6 * 365 * 86400.0
    out = {}
    for c in range(n_compounds):
        name = f"compound {c:02d}" if c % 5 == 0 else f"compound_{c:02d}"
        # sorted sampling times with a few long coverage gaps
        step = rng.exponential(span / n_points, n_points)
        step[rng.integers(0, n_points, 3)] += span / 20
        date = np.floor(t0 + np.cumsum(step) * (span / step.sum()) * 0.98)
        base = 50.0 * (c + 1)
        value = base + 20 * np.sin(date / (365.25 * 86400) * 2 * np.pi) \
            + rng.normal(0, 5, n_points)
        value[rng.integers(0, n_points, 4)] += 200.0           # outliers
        k = int(rng.integers(0, n_points - 6))
        value[k:k + 5] = value[k]                             # a flatline run
        value = np.round(value, 3)
        lat = np.round(rng.uniform(-60, 70, n_points), 2)
        lon = np.round(rng.uniform(-180, 180, n_points), 2)
        alt = np.round(rng.uniform(0, 4000, n_points), 1)
        recs = []
        for i in range(n_points):
            d = _dt.datetime.fromtimestamp(date[i], _dt.timezone.utc)
            recs.append({
                "date": float(date[i]),
                "meas_date": float(date[i] + 86400 * int(rng.integers(1, 30))),
                "value": float(value[i]),
                "flask_number": f"{i:04d}-{int(rng.integers(10, 100))}",
                "year": d.year, "month": d.month, "day": d.day,
                "lat": float(lat[i]), "lon": float(lon[i]), "alt": float(alt[i]),
            })
        with open(f"{dst}/{name}.json", "w") as f:
            json.dump(recs, f)
        out[name] = recs
    return out


def dir_digest(path):
    """sha256 over every file's relative path and bytes under `path`."""
    import hashlib
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for fn in sorted(files):
            p = os.path.join(root, fn)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _utc(sec):
    return _dt.datetime.fromtimestamp(sec, _dt.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")


# One session's step kinds, the same for every seed (the seed picks the
# compounds and boxes): the op mix, and so the latency distribution, does
# not change with the seed.
QC_KINDS = [("rect", "add"), ("axes", "add"), ("rect", "anti"), ("counts", None),
            ("commit", None), ("rect", "toggle"), ("axes", "add"), ("rect", "add"),
            ("axes", "anti"), ("counts", None)]


def qc_script(points, seed, utc_offset_hours=-2):
    """A seeded analyst session over `points`: load, zoom extents, the
    QC_KINDS selection steps, the automated flags, and a final commit."""
    rng = np.random.default_rng(seed + 7919)
    comps = sorted(points)
    steps = [{"op": "load"}, {"op": "zoom", "compounds": comps}]
    span = {"lat": 30, "lon": 60, "alt": 800, "year": 1, "value": 30}
    for op, mode in QC_KINDS:
        c = comps[int(rng.integers(len(comps)))]
        p = points[c][int(rng.integers(len(points[c])))]
        if op == "rect":
            cts = p["date"] + 3600 * utc_offset_hours
            hw = float(rng.uniform(10, 120)) * 86400
            dv = float(rng.uniform(5, 40))
            steps.append({"op": "rect", "compound": c, "mode": mode,
                          "t0": _utc(cts - hw), "t1": _utc(cts + hw),
                          "v0": round(p["value"] - dv, 3), "v1": round(p["value"] + dv, 3)})
        elif op == "axes":
            x, y = rng.choice(sorted(span), 2, replace=False).tolist()
            steps.append({"op": "axes", "compound": c, "mode": mode,
                          "x": x, "x0": float(p[x] - span[x]), "x1": float(p[x] + span[x]),
                          "y": y, "y0": float(p[y] - span[y]), "y1": float(p[y] + span[y])})
        else:
            steps.append({"op": op})
    steps += [{"op": "outliers"}, {"op": "gaps"}, {"op": "rollingZ"},
              {"op": "flatline"}, {"op": "commit"}]
    return steps
