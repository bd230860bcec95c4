"""Seeded inputs and independent expected outputs for the benchmark.

Everything here is plain Python: the msgpack subset is hand-encoded (no
msgpack package is needed), the uDLang scripts under scripts/ are
re-implemented as Python functions, and the pack tables are written with
pyarrow. graft never computes an expected value; it only receives the files
written here.
"""
import json
import os
import random
import struct
from datetime import datetime, timedelta

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
PARTS = 4  # one input file per local core: msgpack files are not splittable


# ---- msgpack subset (nil, bool, int, float64, str, array, map) ----

def mp_encode(v, out):
    if v is None:
        out.append(0xC0)
    elif v is True:
        out.append(0xC3)
    elif v is False:
        out.append(0xC2)
    elif isinstance(v, int):
        if 0 <= v <= 0x7F:
            out.append(v)
        elif -32 <= v < 0:
            out.append(0xE0 | (v & 0x1F))
        elif -(1 << 31) <= v < (1 << 31):
            out.append(0xD2)
            out += struct.pack(">i", v)
        else:
            out.append(0xD3)
            out += struct.pack(">q", v)
    elif isinstance(v, float):
        out.append(0xCB)
        out += struct.pack(">d", v)
    elif isinstance(v, str):
        b = v.encode("utf-8")
        if len(b) < 32:
            out.append(0xA0 | len(b))
        elif len(b) < 256:
            out += bytes([0xD9, len(b)])
        else:
            out.append(0xDA)
            out += struct.pack(">H", len(b))
        out += b
    elif isinstance(v, (list, tuple)):
        if len(v) < 16:
            out.append(0x90 | len(v))
        else:
            out.append(0xDC)
            out += struct.pack(">H", len(v))
        for x in v:
            mp_encode(x, out)
    elif isinstance(v, dict):
        if len(v) < 16:
            out.append(0x80 | len(v))
        else:
            out.append(0xDE)
            out += struct.pack(">H", len(v))
        for k, x in v.items():
            mp_encode(k, out)
            mp_encode(x, out)
    else:
        raise TypeError(f"cannot encode {type(v)}")
    return out


def mp_decode_all(buf):
    """Decode a stream of concatenated top-level msgpack values."""
    pos = 0
    n = len(buf)
    out = []

    def rd(p):
        b = buf[p]
        if b <= 0x7F:
            return b, p + 1
        if b >= 0xE0:
            return b - 0x100, p + 1
        if 0x80 <= b <= 0x8F:
            return rmap(b & 0x0F, p + 1)
        if 0x90 <= b <= 0x9F:
            return rarr(b & 0x0F, p + 1)
        if 0xA0 <= b <= 0xBF:
            ln = b & 0x1F
            return buf[p + 1:p + 1 + ln].decode("utf-8"), p + 1 + ln
        if b == 0xC0:
            return None, p + 1
        if b == 0xC2:
            return False, p + 1
        if b == 0xC3:
            return True, p + 1
        fmt = {0xCA: (">f", 4), 0xCB: (">d", 8), 0xCC: (">B", 1),
               0xCD: (">H", 2), 0xCE: (">I", 4), 0xCF: (">Q", 8),
               0xD0: (">b", 1), 0xD1: (">h", 2), 0xD2: (">i", 4),
               0xD3: (">q", 8)}.get(b)
        if fmt:
            return struct.unpack_from(fmt[0], buf, p + 1)[0], p + 1 + fmt[1]
        if b in (0xD9, 0xDA, 0xDB, 0xC4, 0xC5, 0xC6):
            w = {0xD9: 1, 0xDA: 2, 0xDB: 4, 0xC4: 1, 0xC5: 2, 0xC6: 4}[b]
            ln = int.from_bytes(buf[p + 1:p + 1 + w], "big")
            raw = buf[p + 1 + w:p + 1 + w + ln]
            val = raw.decode("utf-8") if b >= 0xD9 else bytes(raw)
            return val, p + 1 + w + ln
        if b in (0xDC, 0xDD):
            w = 2 if b == 0xDC else 4
            return rarr(int.from_bytes(buf[p + 1:p + 1 + w], "big"), p + 1 + w)
        if b in (0xDE, 0xDF):
            w = 2 if b == 0xDE else 4
            return rmap(int.from_bytes(buf[p + 1:p + 1 + w], "big"), p + 1 + w)
        raise ValueError(f"unsupported msgpack byte 0x{b:02x} at {p}")

    def rarr(k, p):
        xs = []
        for _ in range(k):
            x, p = rd(p)
            xs.append(x)
        return xs, p

    def rmap(k, p):
        m = {}
        for _ in range(k):
            key, p = rd(p)
            m[key], p = rd(p)
        return m, p

    while pos < n:
        v, pos = rd(pos)
        out.append(v)
    return out


# ---- event records and their framings ----

def events(seed, n):
    rng = random.Random(seed)
    return [{"event_id": i,
             "user_id": rng.randrange(10000),
             "event_type": rng.choice(EVENT_TYPES),
             "value": round(rng.uniform(0.01, 500.0), 2)}
            for i in range(n)]


def json_line(r):
    return json.dumps(r, separators=(",", ":"))


def write_framings(recs, d, name, dirs, streams):
    """Write `recs` as <d>/<name>.json/ and <d>/<name>.msgpack/ directories
    of PARTS files each (dirs) and as single <name>.jsonl / <name>.mp
    streams for the stdin legs (streams)."""
    encoded = [bytes(mp_encode(r, bytearray())) for r in recs]
    lines = [json_line(r) + "\n" for r in recs]
    if dirs:
        os.makedirs(f"{d}/{name}.json", exist_ok=True)
        os.makedirs(f"{d}/{name}.msgpack", exist_ok=True)
        step = (len(recs) + PARTS - 1) // PARTS
        for p in range(PARTS):
            with open(f"{d}/{name}.json/part-{p}.jsonl", "w") as f:
                f.writelines(lines[p * step:(p + 1) * step])
            with open(f"{d}/{name}.msgpack/part-{p}.msgpack", "wb") as f:
                f.write(b"".join(encoded[p * step:(p + 1) * step]))
    if streams:
        with open(f"{d}/{name}.jsonl", "w") as f:
            f.writelines(lines)
        with open(f"{d}/{name}.mp", "wb") as f:
            f.write(b"".join(encoded))


# ---- the benchmark scripts, re-implemented (see scripts/*.us) ----

_steps_memo = {}


def collatz_steps(n):
    s = _steps_memo.get(n)
    if s is None:
        k, m = 0, n
        while m != 1:
            m = m // 2 if m % 2 == 0 else 3 * m + 1
            k += 1
        s = _steps_memo[n] = k
    return s


CATS = {"click": "ui", "view": "ui", "purchase": "commerce"}
LABELS = {"click": "C", "view": "V", "purchase": "P"}


def expect_column(recs):
    return [(r["event_id"], CATS.get(r["event_type"], "other"),
             r["value"] * 2.0 + 1.0)
            for r in recs if r["value"] > 25.0]


def expect_kernel(recs):
    return [(r["event_id"], collatz_steps(r["event_id"] % 1000 + 1),
             r["value"] * 0.5) for r in recs]


DLQ_BELOW = 20.0  # dlq.us throws for records with value < DLQ_BELOW


def expect_dlq(recs):
    good = [r for r in recs if not r["value"] < DLQ_BELOW]
    return expect_kernel(good), len(recs) - len(good)


def expect_modimport(recs):
    return [(r["event_id"], LABELS.get(r["event_type"], "-") + ":" +
             str(r["user_id"] % 100)) for r in recs]


# ---- pack tables (the schemas and value domains of TESTDATA.md's tables) ----

WORDS = ("row the query stream fast spark line small customer group value "
         "hash batch sort data big filter dup key agg scan slow table part a "
         "merge window order column join vector").split()
LANGS = ["en"] * 3 + ["zh", "de", "es", "fr"]


def pack_tables(seed, sf, d):
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = random.Random(seed)
    os.makedirs(d, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), f"{d}/{name}.parquet")

    def n_of(base, floor):
        return max(floor, int(base * sf))

    n_cust, n_supp, n_part = n_of(150000, 150), n_of(10000, 10), n_of(200000, 200)
    n_ord, n_ev, n_doc, n_emb = (n_of(1500000, 1500), n_of(1000000, 1000),
                                 n_of(50000, 500), n_of(20000, 500))
    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)],
                                             pa.int32())})
    segs = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
    write("customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(n_cust)],
                                pa.int32()),
        "c_acctbal": [round(rng.uniform(-999.99, 9999.99), 2)
                      for _ in range(n_cust)],
        "c_mktsegment": [rng.choice(segs) for _ in range(n_cust)]})
    write("supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array([rng.randrange(25) for _ in range(n_supp)],
                                pa.int32()),
        "s_acctbal": [round(rng.uniform(-999.99, 9999.99), 2)
                      for _ in range(n_supp)]})
    adj = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
    noun = ["bolt", "gear", "anvil", "widget", "rod", "plate", "ring", "gizmo"]
    ptypes = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
    write("part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{rng.choice(adj)} {rng.choice(noun)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{rng.randrange(1, 26)}" for _ in range(n_part)],
        "p_type": [rng.choice(ptypes) for _ in range(n_part)],
        "p_size": pa.array([rng.randrange(1, 51) for _ in range(n_part)],
                           pa.int32()),
        "p_retailprice": [round(900.0 + (i % 1000) * 0.1, 2)
                          for i in range(n_part)]})
    day0 = datetime(1995, 1, 1)
    odates = [day0 + timedelta(days=rng.randrange(2404)) for _ in range(n_ord)]
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    write("orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array([rng.randrange(n_cust) for _ in range(n_ord)],
                              pa.int64()),
        "o_orderstatus": [rng.choice("OFP") for _ in range(n_ord)],
        "o_totalprice": [round(rng.uniform(1000.0, 500000.0), 2)
                         for _ in range(n_ord)],
        "o_orderdate": pa.array(odates, pa.timestamp("us")),
        "o_orderpriority": [rng.choice(prios) for _ in range(n_ord)]})
    li = {k: [] for k in ["l_orderkey", "l_partkey", "l_suppkey",
                          "l_linenumber", "l_quantity", "l_extendedprice",
                          "l_discount", "l_tax", "l_returnflag",
                          "l_linestatus", "l_shipdate"]}
    for o in range(n_ord):
        for ln in range(1, rng.randrange(1, 8) + 1):
            q = float(rng.randrange(1, 51))
            li["l_orderkey"].append(o)
            li["l_partkey"].append(rng.randrange(n_part))
            li["l_suppkey"].append(rng.randrange(n_supp))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(q)
            li["l_extendedprice"].append(round(q * rng.uniform(900.0, 2100.0), 2))
            li["l_discount"].append(rng.randrange(11) / 100.0)
            li["l_tax"].append(rng.randrange(9) / 100.0)
            li["l_returnflag"].append(rng.choice("ANR"))
            li["l_linestatus"].append(rng.choice("OF"))
            li["l_shipdate"].append(odates[o] + timedelta(days=rng.randrange(1, 122)))
    li["l_linenumber"] = pa.array(li["l_linenumber"], pa.int32())
    li["l_shipdate"] = pa.array(li["l_shipdate"], pa.timestamp("us"))
    write("lineitem", li)
    t0 = datetime(2024, 1, 1)
    ts, t = [], t0
    for _ in range(n_ev):
        t += timedelta(microseconds=rng.randrange(1, 2 * 2592000 * 10**6 // n_ev))
        ts.append(t)
    write("events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(150) for _ in range(n_ev)], pa.int64()),
        "event_type": [rng.choice(EVENT_TYPES) for _ in range(n_ev)],
        "value": [round(rng.uniform(0.01, 490.0), 2) for _ in range(n_ev)],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n_ev)]})
    texts = []
    for i in range(n_doc):
        if texts and rng.random() < 0.1:  # planted near-duplicate
            ws = rng.choice(texts).split(" ")
            for _ in range(rng.randrange(1, 4)):
                ws[rng.randrange(len(ws))] = rng.choice(WORDS)
        else:
            ws = [rng.choice(WORDS) for _ in range(rng.randrange(10, 90))]
        texts.append(" ".join(ws))
    write("documents", {
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(n_doc)],
        "source": [f"src{rng.randrange(20)}" for _ in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    write("embeddings", {
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array([[rng.uniform(-0.5, 0.5) for _ in range(64)]
                               for _ in range(n_emb)], pa.list_(pa.float32())),
        "label": pa.array([rng.randrange(10) for _ in range(n_emb)], pa.int32())})
