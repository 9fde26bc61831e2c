"""Input staging and references for the three workloads.

Every input is derived from the TPC-H-style sf0.1 test tables (TESTDATA.md;
`SPARK_GRAFT_SF_DIR` overrides the directory, as for `graft.Bench`) under
the run's seed, so the same seed gives the same inputs. `stage_<workload>` writes files into the
run's scratch directory and returns the workload's section of the plan
the JVM runner reads; `refs_<workload>` computes, with DuckDB and never
through the engine, the digests the results are checked against.
"""
import datetime
import json
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from digest import digest

DATA = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# ---------------------------------------------------------------- lake_query
OBS_ROWS = 160_000
OBS_FILES = 8
NC_FILES = 2
INSTANCES_PER_TEMPLATE = 2
PLATFORMS = ["SHIP", "BUOY", "FLOAT", "GLIDER", "MOORING"]
OBS_COLS = "obs_id, time, latitude, longitude, depth, temperature, salinity, platform, platform_id"


def _duck():
    con = duckdb.connect()
    con.execute("SET threads = 2")
    return con


def stage_lake(work, seed):
    """An observation collection (FIXTURES.md §2 columns) derived from
    lineitem rows, sorted by time and cut into files that alternate
    between two schema variants (FIXTURES.md §5), so the engine must
    super-type the collection."""
    rng = np.random.default_rng(seed)
    li = pq.read_table(os.path.join(DATA, "lineitem.parquet"),
                       columns=["l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice",
                                "l_discount", "l_tax", "l_shipdate"])
    pick = np.sort(rng.choice(li.num_rows, OBS_ROWS, replace=False))
    li = li.take(pa.array(pick))
    ship = li.column("l_shipdate").cast(pa.timestamp("s")).cast(pa.int64()).to_numpy()
    qty = li.column("l_quantity").to_numpy()
    price = li.column("l_extendedprice").to_numpy()
    time_s = ship + rng.integers(0, 86400, OBS_ROWS)
    order = np.argsort(time_s, kind="stable")
    cols = {
        "obs_id": np.arange(OBS_ROWS, dtype=np.int64),
        "time": time_s[order].astype(np.int64),
        "latitude": np.round(rng.uniform(-80, 80, OBS_ROWS), 4)[order],
        "longitude": np.round(rng.uniform(-180, 180, OBS_ROWS), 4)[order],
        "depth": (qty * 100 + rng.integers(0, 100, OBS_ROWS))[order].astype(np.int64),
        "temperature": (-2 + (price % 3700) / 100)[order],
        "salinity": (30 + li.column("l_discount").to_numpy() * 100)[order],
        "platform": np.array(PLATFORMS)[li.column("l_linenumber").to_numpy() % 5][order],
        "platform_id": (li.column("l_suppkey").to_numpy() % 500)[order].astype(np.int32),
    }
    obs_dir = os.path.join(work, "obs")
    os.makedirs(obs_dir)
    files, b_files = [], []
    bounds = np.linspace(0, OBS_ROWS, OBS_FILES + 1).astype(int)
    for j in range(OBS_FILES):
        lo, hi = bounds[j], bounds[j + 1]
        part = {k: v[lo:hi] for k, v in cols.items()}
        if j % 2 == 0:  # variant A: float32 temperature, int32 depth, has salinity
            table = pa.table({
                "obs_id": part["obs_id"], "time": part["time"],
                "latitude": part["latitude"], "longitude": part["longitude"],
                "depth": part["depth"].astype(np.int32),
                "temperature": part["temperature"].astype(np.float32),
                "salinity": part["salinity"], "platform": part["platform"],
                "platform_id": part["platform_id"]})
            path = os.path.join(obs_dir, f"a_{j:03d}.parquet")
        else:  # variant B: float64 temperature, int64 depth, no salinity
            table = pa.table({
                "obs_id": part["obs_id"], "time": part["time"],
                "latitude": part["latitude"], "longitude": part["longitude"],
                "depth": part["depth"], "temperature": part["temperature"],
                "platform": part["platform"], "platform_id": part["platform_id"]})
            path = os.path.join(obs_dir, f"b_{j:03d}.parquet")
            b_files.append(path)
        pq.write_table(table, path)
        files.append(path)
    nc_sources = sorted(rng.choice(b_files, NC_FILES, replace=False).tolist())

    t_lo, t_hi = int(cols["time"][0]), int(cols["time"][-1])
    day = 86400
    queries = []

    def add(tpl, text, ref, kind="sql", prune=()):
        queries.append({"id": f"{tpl}#{sum(q['tpl'] == tpl for q in queries)}", "tpl": tpl,
                        "kind": kind, "text": text, "ref_sql": ref,
                        "prune": [list(p) for p in prune]})

    for _ in range(INSTANCES_PER_TEMPLATE):
        a = int(rng.integers(t_lo, t_hi - 30 * day))
        p = PLATFORMS[int(rng.integers(0, 5))]
        d = int(rng.integers(0, 5000))
        t = round(float(rng.uniform(-1, 34)), 2)
        q = f"SELECT count(*) AS n, count(salinity) AS n_sal FROM obs WHERE depth >= {d}"
        add("count_scan", q, q)
        q = (f"SELECT obs_id, time, latitude, longitude, temperature FROM obs "
             f"WHERE temperature BETWEEN {t} AND {t + 0.5}")
        add("range_filter", q, q)
        q = (f"SELECT obs_id, temperature, salinity FROM obs "
             f"WHERE temperature > {min(t, 33.0)} AND salinity < {30 + float(rng.uniform(0.3, 1.5)):.2f}")
        add("two_col_filter", q, q)
        b = a + 30 * day
        q = (f"SELECT platform, count(*) AS n, avg(temperature) AS t, avg(salinity) AS s "
             f"FROM obs WHERE time >= {a} AND time < {b} GROUP BY platform")
        add("group_avg", q, q, prune=[("time", "gte", a), ("time", "lt", b)])
        # box corners sit between the 4-decimal coordinate grid, so no
        # point lies on an edge and the polygon test equals BETWEEN
        la = round(float(rng.uniform(-80, 70)), 4) + 0.00005
        lo = round(float(rng.uniform(-180, 160)), 4) + 0.00005
        la2, lo2 = la + 10, lo + 20
        box = f"POLYGON(({lo} {la}, {lo2} {la}, {lo2} {la2}, {lo} {la2}, {lo} {la}))"
        add("bbox", f"SELECT obs_id, latitude, longitude, temperature FROM obs "
                    f"WHERE st_within_point('{box}', longitude, latitude)",
            f"SELECT obs_id, latitude, longitude, temperature FROM obs "
            f"WHERE latitude BETWEEN {la} AND {la2} AND longitude BETWEEN {lo} AND {lo2}")
        b = a + 3 * day
        q = f"SELECT obs_id, time, temperature, depth FROM obs WHERE time >= {a} AND time < {b}"
        add("time_window", q, q, prune=[("time", "gte", a), ("time", "lt", b)])
        q = (f"SELECT obs_id, time, temperature FROM obs WHERE platform = '{p}' "
             f"ORDER BY temperature DESC, obs_id LIMIT 100")
        add("order_limit", q, q)
        q = f"SELECT DISTINCT platform, platform_id FROM obs WHERE depth < {d}"
        add("distinct", q, q)
        b = a + 7 * day
        dsl = json.dumps({"select": ["obs_id", "time", "temperature", "platform"], "from": "obs",
                          "filters": [{"column": "time", "gt_eq": a, "lt_eq": b},
                                      {"column": "platform", "eq": p}]})
        add("dsl_filter", dsl,
            f"SELECT obs_id, time, temperature, platform FROM obs "
            f"WHERE time >= {a} AND time <= {b} AND platform = '{p}'",
            kind="json", prune=[("time", "gte", a), ("time", "lte", b)])
        b = a + 60 * day
        add("nd_netcdf",
            f"SELECT platform, count(*) AS n, avg(temperature) AS t, max(depth) AS d "
            f"FROM obs_nc WHERE time >= {a} AND time < {b} GROUP BY platform",
            f"SELECT platform, count(*) AS n, avg(temperature) AS t, CAST(max(depth) AS DOUBLE) AS d "
            f"FROM obs_nc WHERE time >= {a} AND time < {b} GROUP BY platform")
        b = a + 7 * day
        add("union_by_name",
            f"SELECT obs_id, platform, temperature, salinity FROM obs_a "
            f"WHERE time >= {a} AND time < {b} UNION ALL BY NAME "
            f"SELECT obs_id, platform, temperature, depth FROM obs_b WHERE time >= {a} AND time < {b}",
            f"SELECT obs_id, platform, temperature, salinity, depth FROM ("
            f"SELECT obs_id, platform, temperature, salinity FROM obs_a "
            f"WHERE time >= {a} AND time < {b} UNION ALL BY NAME "
            f"SELECT obs_id, platform, temperature, depth FROM obs_b "
            f"WHERE time >= {a} AND time < {b})")
        od = datetime.date(1992, 1, 1) + datetime.timedelta(days=int(rng.integers(0, 2300)))
        oe = od + datetime.timedelta(days=90)
        q = (f"SELECT o.o_orderpriority, count(*) AS n, sum(l.l_quantity) AS q "
             f"FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
             f"WHERE o.o_orderdate >= CAST('{od}' AS TIMESTAMP) "
             f"AND o.o_orderdate < CAST('{oe}' AS TIMESTAMP) GROUP BY o.o_orderpriority")
        add("tpch_join", q, q)
    # blocks of one instance per template, shuffled within the block, so
    # every stretch of the loop runs the same template mix
    n_tpl = len(queries) // INSTANCES_PER_TEMPLATE
    order = [b * n_tpl + int(k) for b in range(INSTANCES_PER_TEMPLATE)
             for k in rng.permutation(n_tpl)]
    return {"queries": [{k: q[k] for k in ("id", "tpl", "kind", "text", "prune")} for q in queries],
            "order": order, "obs_files": files, "nc_sources": nc_sources,
            "nc_rows": int(sum(pq.read_metadata(f).num_rows for f in nc_sources)),
            "_refs": {q["id"]: q["ref_sql"] for q in queries}}


def refs_lake(section, ids):
    con = _duck()
    files = section["obs_files"]
    con.execute(f"CREATE VIEW obs AS SELECT {OBS_COLS} FROM read_parquet({files!r}, union_by_name = true)")
    con.execute(f"CREATE VIEW obs_a AS SELECT * FROM read_parquet({[f for f in files if '/a_' in f]!r})")
    con.execute(f"CREATE VIEW obs_b AS SELECT * FROM read_parquet({[f for f in files if '/b_' in f]!r})")
    con.execute(f"CREATE VIEW obs_nc AS SELECT * FROM read_parquet({section['nc_sources']!r})")
    for t in ("lineitem", "orders"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    return {i: digest(con.execute(section["_refs"][i]).fetchall()) for i in sorted(ids)}


# ------------------------------------------------------------ curate_fineweb
CURATE_DOCS = 1000
FINEWEB_SPEC = {"stages": [
    {"op": "c4_clean", "require_pass": False},
    {"op": "normalize"},
    {"op": "gopher_filter", "min_words": 25},
    {"op": "repetition_filter", "max_dup_gram_frac": 0.02,
     "max_top_gram_frac": 0.15, "min_distinct_ratio": 0.42},
    {"op": "dedup_exact"},
    {"op": "minhash_neardup"},
    {"op": "decontaminate", "benchmark_col": "is_bench", "max_frac": 0.3},
    {"op": "nb_class_filter", "label_col": "lang", "keep": ["en"]},
    {"op": "token_budget", "salt": "fw-v1", "budget": 300, "shard": "source"},
    {"op": "tokenize", "merges": [["e", "r"], ["t", "h"], ["th", "e"],
                                  ["i", "n"], ["a", "n"], ["an", "d"]]},
    {"op": "pack", "seq_len": 64, "shard": "source"},
]}


def _fineweb_documents(con, seed):
    rng = np.random.default_rng(seed)
    ids = sorted(rng.choice(5000, CURATE_DOCS, replace=False).tolist())
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{DATA}/documents.parquet' "
                f"WHERE doc_id IN ({','.join(map(str, ids))})")


def stage_curate(work, seed, oracles):
    """A seeded document subset with the recipe's duplicates, boilerplate
    and benchmark split seeded in — the seed CTE (`fw0`) of the repo's
    own fineweb oracle, so engine input and reference agree by
    construction."""
    con = _duck()
    _fineweb_documents(con, seed)
    chain = oracles["q_curate_fineweb"]
    head = chain.rfind("SELECT source, seq_id, n_tokens, ids_md5 FROM sq")
    if head < 0:
        raise RuntimeError("the fineweb oracle no longer ends in its `sq` projection")
    path = os.path.join(work, "docs.parquet")
    con.execute(f"COPY ({chain[:head]} SELECT * FROM fw0 ORDER BY doc_id) TO '{path}' (FORMAT parquet)")
    return {"docs": path, "spec": json.dumps(FINEWEB_SPEC)}


def refs_curate(seed, oracles):
    con = _duck()
    _fineweb_documents(con, seed)
    out = digest(con.execute(oracles["q_curate_fineweb"]).fetchall())
    report = con.execute(oracles["q_curate_fineweb_report"]).fetchall()
    return {"fineweb": out, "report": [list(r) for r in report]}


# -------------------------------------------------------------- stream_ingest
STREAM_SLICES = 4
STREAM_PER_TRIGGER = 2
STREAM_USER_SHARE = 4  # keep users whose id falls in one of 4 seeded residues of 16


def _stream_users(seed):
    rng = np.random.default_rng(seed)
    return sorted(rng.choice(16, STREAM_USER_SHARE, replace=False).tolist())


def stage_stream(work, seed):
    """A seeded share of the users' events, sorted by (ts, event_id) and
    cut into files whose modification times follow ts order."""
    users = _stream_users(seed)
    ev = pq.read_table(os.path.join(DATA, "events.parquet"))
    uid = ev.column("user_id").to_numpy()
    ev = ev.filter(pa.array(np.isin(uid % 16, users)))
    ts = ev.column("ts")
    if pa.types.is_integer(ts.type):  # ns since epoch
        ts = pa.array(ts.to_numpy() // 1000).cast(pa.timestamp("us"))
    ev = ev.set_column(ev.schema.get_field_index("ts"), "ts", ts.cast(pa.timestamp("us", tz="UTC")))
    ev = ev.sort_by([("ts", "ascending"), ("event_id", "ascending")])
    out = os.path.join(work, "events")
    os.makedirs(out)
    bounds = np.linspace(0, ev.num_rows, STREAM_SLICES + 1).astype(int)
    for i in range(STREAM_SLICES):
        path = os.path.join(out, f"part-{i:05d}.parquet")
        pq.write_table(ev.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        os.utime(path, (1700000000 + i * 60, 1700000000 + i * 60))
    return {"events": out, "max_files_per_trigger": STREAM_PER_TRIGGER, "gap_minutes": 480}


def refs_stream(seed, oracles):
    con = _duck()
    users = _stream_users(seed)
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{DATA}/events.parquet' "
                f"WHERE user_id % 16 IN ({','.join(map(str, users))})")
    return {"join": digest(con.execute(oracles["q_stream_join"]).fetchall()),
            "sessions": digest(con.execute(oracles["q_stream_sessions"]).fetchall())}
