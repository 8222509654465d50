"""Output checks and small statistics shared by run.py and the tests.

A result table is compared as (sorted column names, row count, digest).
The digest is order-insensitive: each row is canonicalized (columns in
name order, floats rounded to 9 significant digits, timestamps as epoch
microseconds, dates as epoch days, structs/maps with sorted keys), hashed,
and the sorted row hashes are hashed again. The JVM writes the program's
rows as typed JSON (see `decode`); DuckDB's rows come back as Python
objects; both go through the same `canon`.
"""
import datetime as _dt
import decimal
import hashlib
import json
import math
import os

_EPOCH = _dt.datetime(1970, 1, 1)
_EPOCH_DAY = _dt.date(1970, 1, 1)


def _num(x):
    if isinstance(x, int):
        return "n%d" % x
    if math.isnan(x):
        return "nNaN"
    if math.isinf(x):
        return "nInf" if x > 0 else "n-Inf"
    if x == int(x) and abs(x) < 1e15:
        return "n%d" % int(x)
    return "n" + ("%.9g" % x)


def canon(v):
    """Canonical text form of one value (see module doc)."""
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, (int, float)):
        return _num(v)
    if isinstance(v, decimal.Decimal):
        return _num(float(v))
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x" + bytes(v).hex()
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        d = v - _EPOCH
        return "t%d" % (d.days * 86_400_000_000 + d.seconds * 1_000_000 + d.microseconds)
    if isinstance(v, _dt.date):
        return "d%d" % (v - _EPOCH_DAY).days
    if isinstance(v, dict):
        if set(v) == {"key", "value"} and isinstance(v["key"], list):
            v = dict(zip(v["key"], v["value"]))  # DuckDB MAP
        return "{" + ",".join(sorted(canon(k) + ":" + canon(x) for k, x in v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if hasattr(v, "tolist"):  # numpy arrays / scalars
        return canon(v.tolist())
    raise TypeError(f"no canonical form for {type(v).__name__}")


def _key(k):
    return tuple(_key(x) for x in k) if isinstance(k, list) else k


def decode(v):
    """Typed JSON written by the JVM -> Python objects `canon` understands."""
    if isinstance(v, dict):
        if "$ts" in v:
            return _EPOCH + _dt.timedelta(microseconds=v["$ts"])
        if "$date" in v:
            return _EPOCH_DAY + _dt.timedelta(days=v["$date"])
        if "$dbl" in v:
            return float(v["$dbl"])
        if "$hex" in v:
            return bytes.fromhex(v["$hex"])
        if "$map" in v:
            return {_key(decode(k)): decode(x) for k, x in v["$map"]}
        return {k: decode(x) for k, x in v.items()}
    if isinstance(v, list):
        return [decode(x) for x in v]
    return v


def digest(columns, rows):
    """(sorted column names, row count, order-insensitive digest)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    hs = sorted(hashlib.sha1("\x1f".join(canon(r[i]) for i in order).encode()).hexdigest()
                for r in rows)
    return [columns[i] for i in order], len(rows), hashlib.sha256("".join(hs).encode()).hexdigest()


def read_dump(path):
    """One JVM output dump: a header line with the column names, then one
    JSON array per row."""
    with open(path) as f:
        cols = json.loads(f.readline())
        rows = [decode(json.loads(line)) for line in f if line.strip()]
    return cols, rows


def percentile(values, q):
    """Nearest-rank percentile, or None when fewer than ten samples lie
    beyond it (so p50 needs 20 samples and p90 needs 100)."""
    n = len(values)
    if n == 0 or n * (1 - q) < 10 - 1e-9:
        return None
    s = sorted(values)
    return s[max(0, math.ceil(q * n) - 1)]


def median(values):
    s = sorted(values)
    n = len(s)
    if n == 0:
        return None
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


# --- expected values from the DuckDB oracle --------------------------------

def _table_sql(data, t):
    p = f"{data}/{t}.parquet"
    return f"'{p}/*.parquet'" if os.path.isdir(p) else f"'{p}'"


def oracle_expected(data, oracle_sql, cache_path):
    """{op: [columns, rows, digest]} from each op's oracle SQL, cached per
    input directory (the inputs are a pure function of the seed)."""
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    todo = {k: v for k, v in oracle_sql.items() if k not in cache}
    if todo:
        import duckdb
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        from gen import TABLES
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM {_table_sql(data, t)}")
        for name, sql in sorted(todo.items()):
            try:
                res = con.sql(sql)
                cache[name] = list(digest(res.columns, res.fetchall()))
            except Exception as e:  # recorded; the op then counts as wrong
                cache[name] = ["error", str(e)[:200]]
        tmp = cache_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cache, f)
        os.replace(tmp, cache_path)
    return {k: cache[k] for k in oracle_sql}


# --- Python replay of the QC session --- ----------------------------------

def _cts(epoch, utc_offset_hours):
    return int(epoch + 3600 * utc_offset_hours)


def _sel_key(epoch, salt, utc_offset_hours):
    t = _dt.datetime.fromtimestamp(_cts(epoch, utc_offset_hours), _dt.timezone.utc)
    return t.strftime("%Y-%m-%d %H:%M") + " " + salt


def _parse_ts(s):
    t = _dt.datetime.strptime(s, "%Y-%m-%d %H:%M:%S")
    return int((t - _EPOCH).total_seconds())


def export_json(sel):
    """The reference's getJSONfile bytes for a set of (compound, key)."""
    if not sel:
        return "{}"
    by_key = {}
    for c, k in sel:
        by_key.setdefault(k, set()).add(c)
    obj = {k: sorted(by_key[k]) for k in sorted(by_key)}
    return json.dumps(obj, indent=1, ensure_ascii=False).replace("],", "],\n")


def qc_replay(points, script, utc_offset_hours):
    """Replay the seeded QC script over the generated points; return the
    expected result of every step, keyed by step index."""
    rows = []
    for comp, recs in points.items():
        for r in recs:
            rows.append((comp, _sel_key(r["date"], r["flask_number"], utc_offset_hours),
                         _cts(r["date"], utc_offset_hours), r))
    n_rows = len(rows)
    sel = set()
    out = {}

    def box(st):
        if st["op"] == "rect":
            a, b = _parse_ts(st["t0"]), _parse_ts(st["t1"])
            return {(c, k) for c, k, cts, r in rows if c == st["compound"]
                    and a <= cts <= b and st["v0"] <= r["value"] <= st["v1"]}
        return {(c, k) for c, k, cts, r in rows if c == st["compound"]
                and st["x0"] <= r[st["x"]] <= st["x1"]
                and st["y0"] <= r[st["y"]] <= st["y1"]}

    for i, st in enumerate(script):
        op = st["op"]
        if op in ("rect", "axes"):
            b = box(st)
            if st.get("mode") == "anti":
                sel = sel - b
            elif st.get("mode") == "toggle":
                sel = sel ^ b
            else:
                sel = sel | b
            out[i] = {"rows": len(sel)}
        elif op == "counts":
            keys = {k for _, k in sel}
            out[i] = {"rows": len(keys)}
        elif op == "commit":
            js = export_json(sel)
            kept = n_rows - len(sel)
            out[i] = {"json_sha": hashlib.sha256(js.encode()).hexdigest(),
                      "rows": kept, "written": kept}
        else:
            out[i] = {}
    return out
