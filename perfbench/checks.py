"""Output gate: every pass's output is checked after the harness exits,
outside every timed region. Each function returns a list of failure
descriptions; each failure counts once into ``error_rate``.

- Query workloads: the first pass's results are compared with the
  query's ``SparkEntry.oracleSql`` replayed in DuckDB over the same
  generated tables (the comparison ``tools/check.py`` makes: columns by
  name, rows sorted, values exact). Every pass's result digest must then
  equal the first pass's. One oracle is replaced by an exact
  recomputation, see ``_exact_components``.
- etl_daily: every pass's warehouse outputs are compared with an
  independent DuckDB recomputation from the generated files: the day's
  fact rows, the enriched pivot rows, the per-host ``throughput_bps``
  sums and the conformed XML-API rows.
"""
import glob
import json
import os

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _connect():
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=4")
    return con


def _exact_components(con, oracle_sql):
    """doc_id -> min doc_id of its connected component over the oracle's
    own candidate pairs, by union-find. The q_dedup_clusters oracle
    stops label propagation after a fixed 10 rounds, which does not
    converge on long-chained components; the engine's answer is checked
    against the exact components instead."""
    pairs = con.execute(oracle_sql.replace("SELECT doc_id, cluster_id FROM cc",
                                           "SELECT src, dst FROM pairs")).fetchall()
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return pd.DataFrame({"doc_id": list(parent), "cluster_id": [find(n) for n in parent]})


EXACT = {"q_dedup_clusters": _exact_components}


def queries(data, work, passes, names):
    con = _connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    oracle = json.load(open(f"{work}/oracle_sql.json"))
    first = {c["name"]: c for c in passes[0]["calls"]}
    bad = []
    for name in names:
        if first[name]["error"]:
            continue  # counted as a failed call
        if name in oracle:
            files = glob.glob(f"{work}/results/{name}/*.parquet")
            got = _canon(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
            try:
                exp = _canon(EXACT[name](con, oracle[name]) if name in EXACT
                             else con.execute(oracle[name]).df())
            except Exception as e:  # noqa: BLE001 - any oracle error fails the check
                bad.append(f"{name}: oracle SQL error: {e}")
                continue
            if list(got.columns) != list(exp.columns):
                bad.append(f"{name}: columns {list(got.columns)} vs {list(exp.columns)}")
            elif len(got) != len(exp):
                bad.append(f"{name}: rows {len(got)} vs oracle {len(exp)}")
            elif not got.equals(exp):
                bad.append(f"{name}: values differ from the oracle")
        for p in passes[1:]:
            c = next(c for c in p["calls"] if c["name"] == name)
            if not c["error"] and c["digest"] != first[name]["digest"]:
                bad.append(f"pass {p['index']} {name}: result digest differs from pass 0")
    return bad


def _etl_expected(con, data, meta):
    lo, hi, day = meta["start_clock"], meta["end_clock"], meta["day"]
    con.execute(f"""CREATE OR REPLACE VIEW history AS SELECT * FROM read_csv('{data}/history.csv',
        header=false, columns={{'itemid':'BIGINT','clock':'BIGINT','value':'DECIMAL(20,0)'}})""")
    for t in ("hosts", "items", "remotes"):
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    con.execute(f"""CREATE OR REPLACE TABLE exp_fact AS
        SELECT itemid, clock, value,
               strftime(make_timestamp((clock + 25200) * 1000000), '%Y%m%d') AS ds
        FROM history WHERE clock >= {lo} AND clock < {hi}""")
    con.execute(f"""CREATE OR REPLACE TABLE exp_enrich AS
        WITH c AS (
          SELECT item_id, host,
                 regexp_extract(name, '^[^(]*\\(([^)]*)\\).*$', 1) AS description,
                 split_part(name, ':', 1) AS interface,
                 regexp_extract(key_, '^net\\.if\\.([^\\[]+)\\[.*$', 1) AS direction
          FROM items),
        j AS (
          SELECT b.host_name, c.description,
                 strftime(date_trunc('minute', make_timestamp((d.clock + 25200) * 1000000)),
                          '%Y-%m-%d %H:%M:00') AS waktu,
                 a.remote, a.kanca, a.kanwil, a.latitude, a.longitude, c.interface,
                 concat_ws(' - ', a.tipe, a.remote_ip, a.remote) AS display_key,
                 c.direction, CAST(d.value AS DOUBLE) AS v
          FROM exp_fact d JOIN c ON d.itemid = c.item_id
          JOIN hosts b ON c.host = b.host_name JOIN remotes a ON b.ip = a.remote_ip
          WHERE d.ds = '{day}' AND c.direction IN ('in', 'out'))
        SELECT host_name, description, waktu, remote, kanca, kanwil, latitude, longitude,
               interface, display_key,
               max(v) FILTER (direction = 'in') AS throughput_in,
               max(v) FILTER (direction = 'out') AS throughput_out,
               coalesce(max(v) FILTER (direction = 'in'), 0)
                 + coalesce(max(v) FILTER (direction = 'out'), 0) AS throughput_bps,
               substr(waktu, 1, 10) AS tanggal_bulan_tahun, substr(waktu, 12, 2) AS jam,
               substr(waktu, 15, 2) AS menit, '{day}' AS ds
        FROM j GROUP BY ALL""")
    con.execute(f"""CREATE OR REPLACE TABLE exp_xml AS
        WITH r AS (
          SELECT aplikasi, titik, transactions, delay, throughput,
                 strftime(strptime(waktu, '%Y-%m-%d %H:%M:%S') + INTERVAL 7 HOUR,
                          '%d-%m-%Y %H:%M:%S') AS waktu
          FROM read_csv('{data}/payloads/*.csv', header=true, columns={{
            'aplikasi':'VARCHAR','titik':'VARCHAR','transactions':'DOUBLE','delay':'DOUBLE',
            'throughput':'DOUBLE','waktu':'VARCHAR','appId_String':'VARCHAR'}})
          WHERE appId_String IN (SELECT app_string FROM read_csv('{data}/allowlist.csv',
                                 header=true, columns={{'app_string':'VARCHAR'}})))
        SELECT *, substr(waktu, 1, 10) AS waktu_string, substr(waktu, 7, 4) AS tahun,
               substr(waktu, 4, 2) AS bulan, substr(waktu, 1, 2) AS tanggal,
               substr(waktu, 12, 2) AS jam, substr(waktu, 15, 2) AS menit, '{day}' AS ds
        FROM r""")


def _diff(con, got, exp, cols):
    sel = ", ".join(cols)
    return con.execute(f"""SELECT count(*) FROM (
        (SELECT {sel} FROM {got} EXCEPT ALL SELECT {sel} FROM {exp}) UNION ALL
        (SELECT {sel} FROM {exp} EXCEPT ALL SELECT {sel} FROM {got}))""").fetchone()[0]


def etl(data, work, passes):
    meta = json.load(open(f"{data}/meta.json"))
    con = _connect()
    _etl_expected(con, data, meta)
    fact_n = con.execute("SELECT count(*) FROM exp_fact").fetchone()[0]
    enrich_n = con.execute("SELECT count(*) FROM exp_enrich").fetchone()[0]
    xml_n = con.execute("SELECT count(*) FROM exp_xml").fetchone()[0]
    enrich_cols = ["host_name", "description", "waktu", "remote", "kanca", "kanwil", "latitude",
                   "longitude", "interface", "display_key", "throughput_in", "throughput_out",
                   "throughput_bps", "tanggal_bulan_tahun", "jam", "menit", "ds"]
    xml_cols = ["aplikasi", "titik", "transactions", "delay", "throughput", "waktu",
                "waktu_string", "tahun", "bulan", "tanggal", "jam", "menit", "ds"]
    bad = []
    for p in passes:
        out = f"{work}/passes/p{p['index']}"
        by = {c["name"]: c for c in p["calls"]}

        def view(name, sub):
            con.execute(f"""CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet(
                '{out}/{sub}/*/*.parquet', hive_partitioning=true, hive_types={{'ds':'VARCHAR'}})""")

        try:
            view("got_fact", "fact")
            view("got_enrich", "enrich")
            view("got_xml", "xml")
        except duckdb.Error as e:
            bad.append(f"pass {p['index']}: outputs unreadable: {e}")
            continue
        tag = f"pass {p['index']}"
        if by["pipelines.MySqlIngest.run"].get("rows") != fact_n or _diff(
                con, "got_fact", "exp_fact", ["itemid", "clock", "value", "ds"]):
            bad.append(f"{tag}: fact rows differ from the recomputation")
        if by["io.PartitionedWriter.maxPartition"].get("value") != meta["day"]:
            bad.append(f"{tag}: watermark is not {meta['day']}")
        if by["pipelines.Enrich.run"].get("rows") != enrich_n or _diff(
                con, "got_enrich", "exp_enrich", enrich_cols):
            bad.append(f"{tag}: pivot rows differ from the recomputation")
        if _diff(con, "(SELECT host_name, sum(throughput_bps) s FROM got_enrich GROUP BY 1)",
                 "(SELECT host_name, sum(throughput_bps) s FROM exp_enrich GROUP BY 1)",
                 ["host_name", "s"]):
            bad.append(f"{tag}: throughput_bps sums differ")
        if by["pipelines.XmlIngest.run"].get("rows") != xml_n or _diff(
                con, "got_xml", "exp_xml", xml_cols):
            bad.append(f"{tag}: XML rows differ from the recomputation")
    return bad


def output_bytes(work, p):
    """Bytes under one pass's warehouse output paths."""
    root = f"{work}/passes/p{p['index']}"
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs)


def input_bytes(data):
    """Bytes of generated input the day close consumes."""
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(data) for f in fs
               if f != "meta.json")
