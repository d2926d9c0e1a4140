"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (seed, size): the same seed writes
byte-identical files, another seed writes different values with the same
row counts and the same duplicate structure. The program under test only
ever sees the files written here.

- ``floor_tables``: the TPC-H-ish star plus ``events``, ``documents`` and
  ``embeddings`` (the schemas and value domains of the query test data,
  see FIXTURES.md section 1), at a scale factor.
- ``corpus``: ``floor_tables`` plus a documents table scaled up from a
  fixed base corpus: ``copies`` shards, each but the first carrying a
  vocabulary tag on every non-stopword (the ``graft.tools.ScaleUp``
  construction), placed in doc-id space by the seed.
- ``etl``: the reference day close inputs (FIXTURES.md section 2): host,
  item and remote dimensions, the Zabbix ``history`` counter table as CSV,
  one XML-API CSV payload per five-minute slice, and the app allowlist.

Run ``python3 perfbench/inputs.py --selftest DIR`` to check the seed
contract.
"""
import datetime as dt
import hashlib
import json
import os
import shutil
import sys
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
STOPWORDS = {"the", "a", "of", "and", "to", "in", "is", "for"}
LANGS = ["en"] * 44 + ["zh"] * 14 + ["es"] * 14 + ["de"] * 14 + ["fr"] * 14
ADJ = "blue hot small old red new cold large".split()
NOUN = "bolt gear anvil ring widget plate rod gizmo".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
PTYPES = ["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
DAY_US = 86_400_000_000


def _rng(seed, stream):
    """Independent generator per (seed, table) so tables do not shift
    when another table's size changes."""
    return np.random.default_rng([int(seed), zlib.crc32(stream.encode())])


def _write(path, cols, schema):
    pq.write_table(pa.table(cols, schema=schema), path, compression="snappy")


def _ts_us(start, n_days, rng, n):
    """`n` whole-day timestamps (micros) in [start, start + n_days)."""
    base = int(dt.datetime(*start).replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    return base + rng.integers(0, n_days, n) * DAY_US


def _documents_text(rng, n):
    """`n` documents of 10-100 vocabulary words: 5% are near-duplicates
    (another document plus a trailing ``dup``) and 0.2% exact copies,
    the duplicate structure of the documents test table."""
    lens = rng.integers(10, 101, n)
    texts = [" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), k)) for k in lens]
    n_near, n_exact = n // 20, max(1, n // 500)
    perm = rng.permutation(n)
    k = n_near + n_exact
    for j, (t, src) in enumerate(zip(perm[:k], perm[k:2 * k])):
        texts[t] = texts[src] + " dup" if j < n_near else texts[src]
    return texts


def _documents(path, texts, rng):
    n = len(texts)
    _write(path, {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }, pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                  ("source", pa.string()), ("n_chars", pa.int64())]))


def floor_tables(out, seed, sf=0.01):
    """The ten query tables at scale factor `sf` (sf0.01: 60 k lineitem)."""
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_events, n_docs, n_emb = int(1_000_000 * sf), max(500, int(50_000 * sf)), 500

    _write(f"{out}/region.parquet",
           {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS},
           pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))
    _write(f"{out}/nation.parquet",
           {"n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25, dtype=np.int32) % 5},
           pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                      ("n_regionkey", pa.int32())]))

    r = _rng(seed, "customer")
    _write(f"{out}/customer.parquet", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n_cust)],
    }, pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                  ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                  ("c_mktsegment", pa.string())]))

    r = _rng(seed, "supplier")
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2),
    }, pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                  ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]))

    r = _rng(seed, "part")
    _write(f"{out}/part.parquet", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    }, pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()), ("p_brand", pa.string()),
                  ("p_type", pa.string()), ("p_size", pa.int32()),
                  ("p_retailprice", pa.float64())]))

    r = _rng(seed, "orders")
    _write(f"{out}/orders.parquet", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("P", "O", "F")[i] for i in r.integers(0, 3, n_ord)],
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(_ts_us((1995, 1, 1), 2404, r, n_ord), pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, n_ord)],
    }, pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                  ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                  ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string())]))

    r = _rng(seed, "lineitem")
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": r.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": r.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("R", "A", "N")[i] for i in r.integers(0, 3, n_line)],
        "l_linestatus": [("O", "F")[i] for i in r.integers(0, 2, n_line)],
        "l_shipdate": pa.array(_ts_us((1995, 1, 2), 2499, r, n_line), pa.timestamp("us")),
    }, pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                  ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                  ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                  ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                  ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                  ("l_shipdate", pa.timestamp("us"))]))

    r = _rng(seed, "events")
    base = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    ts = np.sort(r.choice(30 * DAY_US, n_events, replace=False)) + base
    _write(f"{out}/events.parquet", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": r.integers(0, 150, n_events).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, n_events)],
        "value": np.maximum(0.01, np.round(r.exponential(50.0, n_events), 2)),
        "props": [f'{{"k": {i}}}' for i in r.integers(0, 100, n_events)],
    }, pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                  ("user_id", pa.int64()), ("event_type", pa.string()),
                  ("value", pa.float64()), ("props", pa.string())]))

    r = _rng(seed, "documents")
    _documents(f"{out}/documents.parquet", _documents_text(r, n_docs), r)

    r = _rng(seed, "embeddings")
    v = r.normal(0.0, 1.0, (n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(f"{out}/embeddings.parquet", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": r.integers(0, 10, n_emb).astype(np.int32),
    }, pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                  ("label", pa.int32())]))


def corpus(out, seed, base_docs, copies, sf=0.01):
    """`floor_tables` whose documents are `copies` shards of one fixed
    `base_docs`-document base corpus (ScaleUp-style): shard k > 0 tags
    each non-stopword with ``_<k>``, so shards never duplicate each other
    and every shard keeps the base corpus's dup structure. The seed
    places the shards in doc-id space and assigns languages; the text,
    and so the near-duplicate graph, is the same for every seed."""
    floor_tables(out, seed, sf)
    base = _documents_text(_rng(0, "corpus"), base_docs)
    shards = [base] + [[" ".join(w if w in STOPWORDS else f"{w}_{k}" for w in t.split())
                        for t in base] for k in range(1, copies)]
    r = _rng(seed, "corpus")
    _documents(f"{out}/documents.parquet", [t for k in r.permutation(copies) for t in shards[k]], r)


def etl(out, seed, hosts, ifaces, slices, apps, points):
    """One WIB day of reference inputs.

    `hosts` routers with `ifaces` interfaces each (an in and an out
    counter item per interface, plus one non-network item that the
    enrichment drops), polled every five minutes all day; two hours of
    the previous day's history must stay unread. `slices` five-minute
    XML-API payloads of `apps` x `points` rows; 70% of app ids are
    allowlisted.
    """
    os.makedirs(f"{out}/payloads", exist_ok=True)
    r = _rng(seed, "etl")
    day = dt.date(2024, 1, 1) + dt.timedelta(days=int(r.integers(0, 28)))
    # WIB midnight of `day` as UTC epoch seconds
    start = int(dt.datetime(day.year, day.month, day.day, tzinfo=dt.timezone.utc)
                .timestamp()) - 7 * 3600
    ips = [f"10.{h // 250}.{h % 250}.{int(r.integers(1, 255))}" for h in range(hosts)]
    _write(f"{out}/hosts.parquet",
           {"host_name": [f"router{h:04d}" for h in range(hosts)], "ip": ips},
           pa.schema([("host_name", pa.string()), ("ip", pa.string())]))
    _write(f"{out}/remotes.parquet", {
        "remote_ip": ips,
        "tipe": ["tipe"] * hosts,
        "kanca": [f"Kanca{int(i)}" for i in r.integers(0, 40, hosts)],
        "kanwil": [f"Kanwil{int(i)}" for i in r.integers(0, 12, hosts)],
        "remote": [f"Site{h:04d}" for h in range(hosts)],
        "alamat": [f"Jl. Raya {int(i)}" for i in r.integers(1, 500, hosts)],
        "id_remote": [f"R{h:05d}" for h in range(hosts)],
        "latitude": np.round(r.uniform(-8.0, 5.0, hosts), 4),
        "longitude": np.round(r.uniform(95.0, 141.0, hosts), 4),
    }, pa.schema([("remote_ip", pa.string()), ("tipe", pa.string()), ("kanca", pa.string()),
                  ("kanwil", pa.string()), ("remote", pa.string()), ("alamat", pa.string()),
                  ("id_remote", pa.string()), ("latitude", pa.float64()),
                  ("longitude", pa.float64())]))
    item_id, name, key, host = [], [], [], []
    for h in range(hosts):
        for i in range(ifaces):
            desc = f"eth{i}: uplink (WAN Link {i})"
            for d in ("in", "out"):
                item_id.append(len(item_id) + 10_000)
                name.append(desc)
                key.append(f"net.if.{d}[eth{i}]")
                host.append(f"router{h:04d}")
        item_id.append(len(item_id) + 10_000)
        name.append("cpu load")
        key.append("system.cpu.load")
        host.append(f"router{h:04d}")
    _write(f"{out}/items.parquet",
           {"item_id": np.array(item_id, np.int64), "name": name, "key_": key, "host": host},
           pa.schema([("item_id", pa.int64()), ("name", pa.string()), ("key_", pa.string()),
                      ("host", pa.string())]))
    # history: one poll per item per five minutes, inside the poll's
    # first minute so an interface's in and out samples pivot together
    polls = np.arange(-24, 288) * 300 + start
    items = np.array(item_id, np.int64)
    offs = r.integers(0, 60, len(items))
    clock = (polls[:, None] + offs[None, :]).ravel()
    itemid = np.tile(items, len(polls))
    value = r.integers(0, 10**12, len(clock))
    with open(f"{out}/history.csv", "w") as f:
        f.write("".join(f"{a},{b},{c}\n" for a, b, c in zip(itemid, clock, value)))
    app_ids = [f"APP{a:03d}" for a in range(apps)]
    allowed = sorted(r.choice(app_ids, round(0.7 * apps), replace=False))
    with open(f"{out}/allowlist.csv", "w") as f:
        f.write("app_string\n" + "".join(a + "\n" for a in allowed))
    requests = []
    for s in range(slices):
        t0 = dt.datetime.fromtimestamp(start + 300 * s, dt.timezone.utc)
        lines = ["aplikasi,titik,transactions,delay,throughput,waktu,appId_String"]
        for a in range(apps):
            for p in range(points):
                w = (t0 + dt.timedelta(seconds=int(r.integers(0, 300)))).strftime("%Y-%m-%d %H:%M:%S")
                lines.append(f"app{a:03d},titik{p:02d},{int(r.integers(0, 5000))}.0,"
                             f"{r.integers(0, 10000) / 100},{int(r.integers(0, 10**6))}.0,"
                             f"{w},{app_ids[a]}")
        req = f"slice{s:03d}"
        with open(f"{out}/payloads/{req}.csv", "w") as f:
            f.write("\n".join(lines) + "\n")
        requests.append(req)
    meta = {"day": day.strftime("%Y%m%d"), "start_clock": start, "end_clock": start + 86400,
            "requests": requests}
    with open(f"{out}/meta.json", "w") as f:
        json.dump(meta, f)


def generate(kind, out, seed, sizes):
    shutil.rmtree(out, ignore_errors=True)
    {"floor": floor_tables, "corpus": corpus, "etl": etl}[kind](out, seed, **sizes)


# ---------------------------------------------------------------- self-test

def _digest(root):
    h = {}
    for d, _, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            p = os.path.join(d, f)
            h[os.path.relpath(p, root)] = hashlib.sha256(open(p, "rb").read()).hexdigest()
    return h


def _shape(root):
    """Row counts per file plus the corpus duplicate structure."""
    import duckdb
    con = duckdb.connect()
    shape = {}
    for rel in sorted(_digest(root)):
        p = os.path.join(root, rel)
        if rel.endswith(".parquet"):
            shape[rel] = con.execute(f"SELECT count(*) FROM read_parquet('{p}')").fetchone()[0]
        elif rel.endswith(".csv"):
            shape[rel] = sum(1 for _ in open(p))
    docs = os.path.join(root, "documents.parquet")
    if os.path.exists(docs):
        shape["exact_dups"], shape["near_dups"] = con.execute(
            f"SELECT count(*) - count(DISTINCT text), count(*) FILTER (text LIKE '% dup') "
            f"FROM read_parquet('{docs}')").fetchone()
    return shape


SELFTEST_SIZES = {
    "floor": {"sf": 0.001},
    "corpus": {"base_docs": 300, "copies": 3, "sf": 0.001},
    "etl": {"hosts": 5, "ifaces": 2, "slices": 3, "apps": 6, "points": 4},
}


def selftest(root):
    for kind, sizes in SELFTEST_SIZES.items():
        a, b, c = (os.path.join(root, f"{kind}_{n}") for n in ("s1", "s1_again", "s2"))
        generate(kind, a, 1, sizes)
        generate(kind, b, 1, sizes)
        generate(kind, c, 2, sizes)
        da, db, dc = _digest(a), _digest(b), _digest(c)
        assert da == db, f"{kind}: same seed gave different bytes"
        changed = [f for f in da if da[f] != dc.get(f)]
        assert set(da) == set(dc), f"{kind}: file sets differ across seeds"
        assert changed, f"{kind}: another seed gave identical bytes"
        sa, sc = _shape(a), _shape(c)
        assert sa == sc, f"{kind}: row counts or dup structure differ across seeds: {sa} vs {sc}"
        print(f"selftest {kind}: ok ({len(da)} files, {len(changed)} differ across seeds)")
    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    if len(sys.argv) == 3 and sys.argv[1] == "--selftest":
        selftest(sys.argv[2])
    else:
        sys.exit("usage: python3 perfbench/inputs.py --selftest DIR")
