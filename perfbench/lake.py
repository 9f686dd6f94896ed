"""Seeded inputs for the benchmark: the parquet lake, the request mix of
each workload and the NDJSON ingest sources.

Everything here is a pure function of the seed (numpy's PCG64 stream),
so the same seed always yields byte-identical inputs. The lake mirrors
the shape of the engine's TPC-H-style test lake (tables, columns, value
ranges and cardinalities) so every registry query runs on it.
"""
import datetime as dt
import json
import os
import urllib.parse

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "hot", "red", "new", "small", "cold", "blue", "old"]
PART_NOUN = ["ring", "bolt", "anvil", "rod", "plate", "gear", "nut", "pipe"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]

# The API workloads read the 0.1 lake (600k lineitem rows). The batch set
# runs on 0.01: at 0.1 one warm pass of its 24 queries takes longer on
# 4 cores than a whole benchmark run may.
API_SF = 0.1
BATCH_SF = 0.01


def _days(rng, n, start, end):
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def write_lake(seed, sf, out_dir):
    """Writes the ten lake tables as parquet under out_dir."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = int(50000 * sf), max(500, int(20000 * sf))
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                          "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4))})
    month_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, month_us, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
        "user_id": rng.integers(0, 1500, n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), n)]))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})
    for name, tab in t.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))
    return {k: v.num_rows for k, v in t.items()}


# ---------------------------------------------------------------- AOIs

# The synthetic raster lake: 4 x 4 one-degree tiles, lon [0, 4), lat [40, 44).
RASTER_LON0, RASTER_LAT1 = 0.0, 44.0


def _coord(v):
    # four decimals with an odd last digit: never on the 0.005 + k * 0.01
    # pixel-centre lattice
    q = int(round(v * 10000))
    return (q | 1) / 10000.0


def convex_quad(rng, x0, y0, x1, y1):
    """A convex quad inside the box, one vertex near each corner."""
    w, h = x1 - x0, y1 - y0
    j = lambda s: float(rng.uniform(0.02, 0.2)) * s
    pts = [(x0 + j(w), y0 + j(h)), (x1 - j(w), y0 + j(h)),
           (x1 - j(w), y1 - j(h)), (x0 + j(w), y1 - j(h))]
    return [(_coord(x), _coord(y)) for x, y in pts]


def geojson(quad):
    ring = quad + [quad[0]]
    return json.dumps({"type": "Polygon", "coordinates": [[list(p) for p in ring]]},
                      separators=(",", ":"))


# tile spans (w, h) of the raster AOIs: every size from 1 to 16 tiles, so
# each seed covers the same range of AOI sizes
AOI_SPANS = [(1, 1), (2, 1), (1, 2), (2, 2), (3, 1), (1, 3), (3, 2), (2, 3),
             (4, 1), (1, 4), (3, 3), (4, 2), (2, 4), (4, 3), (3, 4), (4, 4)]


def raster_aoi(rng, w, h):
    """A quad whose bbox spans w x h of the lake's 4 x 4 tiles."""
    tx, ty = int(rng.integers(0, 5 - w)), int(rng.integers(0, 5 - h))
    x0 = RASTER_LON0 + tx
    y1 = RASTER_LAT1 - ty
    # keep the bbox inside the chosen tiles so it touches exactly w * h
    return convex_quad(rng, x0 + 0.01, y1 - h + 0.01, x0 + w - 0.01, y1 - 0.01)


# ---------------------------------------------------------- request mixes

def _enc(sql):
    return urllib.parse.quote(sql, safe="")


def _date(rng, start, end):
    d = start + dt.timedelta(days=int(rng.integers(0, (end - start).days)))
    return d.isoformat()


def tabular_pool(rng, n):
    """n distinct tabular requests: (dataset, sql), literals seeded."""
    out = []
    makers = [
        lambda: ("lineitem",
                 "SELECT l_returnflag, l_linestatus, "
                 "SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sum_qty, "
                 "SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS sum_price, "
                 "COUNT(*) AS n FROM data "
                 f"WHERE l_shipdate < DATE '{_date(rng, dt.date(1995, 6, 1), dt.date(2001, 6, 1))}' "
                 "GROUP BY l_returnflag, l_linestatus"),
        lambda: ("lineitem",
                 "SELECT COUNT(*) AS n FROM data "
                 f"WHERE l_discount = {int(rng.integers(0, 11)) / 100} "
                 f"AND l_quantity < {int(rng.integers(2, 50))}"),
        lambda: ("orders",
                 "SELECT o_orderkey, o_custkey, o_totalprice FROM data "
                 f"WHERE o_orderpriority = '{PRIORITIES[int(rng.integers(0, 5))]}' "
                 f"AND o_totalprice > {int(rng.integers(1000, 490000))} "
                 "ORDER BY o_totalprice, o_orderkey LIMIT 10"),
        lambda: ("orders",
                 "SELECT o_orderstatus, COUNT(*) AS n, "
                 "SUM(CAST(o_totalprice AS DECIMAL(16,2))) AS total FROM data "
                 f"WHERE o_orderdate >= DATE '{_date(rng, dt.date(1995, 1, 1), dt.date(2001, 1, 1))}' "
                 "GROUP BY o_orderstatus"),
        lambda: ("events",
                 "SELECT event_type, COUNT(*) AS n, "
                 "SUM(CAST(value AS DECIMAL(14,2))) AS total FROM data "
                 f"WHERE user_id < {int(rng.integers(10, 1500))} GROUP BY event_type"),
        lambda: ("events",
                 "SELECT COUNT(*) AS n FROM data "
                 f"WHERE event_type = '{EVENT_TYPES[int(rng.integers(0, 5))]}' "
                 f"AND value > {int(rng.integers(0, 200))}"),
        lambda: ("customer",
                 "SELECT DISTINCT c_mktsegment, c_nationkey FROM data "
                 f"WHERE c_acctbal > {int(rng.integers(-900, 9900))} "
                 "ORDER BY c_mktsegment, c_nationkey LIMIT 20"),
        lambda: ("region",
                 "SELECT r_regionkey, r_name FROM data "
                 f"WHERE r_regionkey >= {int(rng.integers(0, 5))} ORDER BY r_regionkey"),
    ]
    seen = set()
    while len(out) < n:
        ds, sql = makers[len(out) % len(makers)]()
        # every shape once as JSON, then once as CSV: the seed moves the
        # literals, never the mix
        fmt = "csv" if (len(out) // len(makers)) % 2 else "json"
        if (ds, sql, fmt) in seen:
            continue
        seen.add((ds, sql, fmt))
        out.append({"kind": "tabular", "dataset": ds, "version": "v1",
                    "fmt": fmt, "sql": sql})
    return out


REJECTED = [
    ("lineitem", "SELECT COUNT(*) FROM data; SELECT 1"),
    ("orders", "DELETE FROM data WHERE o_orderkey = 1"),
    ("orders", "WITH x AS (SELECT 1 AS a) SELECT a FROM x"),
    ("customer", "SELECT * FROM (SELECT c_custkey FROM data) AS b"),
    ("events", "SELECT pg_sleep(1) FROM data"),
    ("region", "SELECT current_user FROM data"),
]

# OTF raster query shapes: (dataset, version, user SQL with {t} / {k} slots)
RASTER_SHAPES = [
    ("umd_tree_cover_loss", "v2",
     "SELECT umd_tree_cover_loss__year, SUM(area__ha) AS area__ha FROM data "
     "WHERE is__umd_regional_primary_forest_2001 != 'false' "
     "AND umd_tree_cover_density_2000__threshold >= {t} "
     "AND umd_tree_cover_loss__year >= {y} GROUP BY umd_tree_cover_loss__year "
     "ORDER BY umd_tree_cover_loss__year"),
    ("landcover_raster", "v1",
     "SELECT SUM(area__ha) AS area__ha, COUNT(*) AS pixel__count FROM data "
     "WHERE landcover_raster__class = {k} "
     "AND umd_tree_cover_density_2000__threshold >= {t}"),
    ("whrc_aboveground_biomass_stock_2000", "v1",
     "SELECT landcover_raster__class, "
     "SUM(whrc_aboveground_biomass_stock_2000__Mg) AS biomass__Mg FROM data "
     "WHERE umd_tree_cover_density_2000__threshold >= {t} "
     "GROUP BY landcover_raster__class ORDER BY landcover_raster__class"),
    ("umd_tree_cover_loss", "v2",
     "SELECT umd_tree_cover_loss__year, COUNT(*) AS loss__count FROM data "
     "WHERE landcover_raster__class IN ({k}, {k2}) "
     "GROUP BY umd_tree_cover_loss__year ORDER BY umd_tree_cover_loss__year"),
]


def raster_pool(rng, n):
    """n raster requests; entry i reads AOI i, so every seed pairs the
    same query shapes with the same AOI sizes."""
    out = []
    for i in range(n):
        aoi = f"aoi{i % len(AOI_SPANS)}"
        if i % 5 == 4:
            out.append({"kind": "zonal", "aoi": aoi,
                        "tcd": int(rng.integers(0, 90))})
            continue
        ds, ver, shape = RASTER_SHAPES[i % len(RASTER_SHAPES)]
        k = int(rng.integers(0, 7))
        sql = shape.format(t=int(rng.integers(0, 90)), y=int(rng.integers(2001, 2024)),
                           k=k, k2=(k + 1 + int(rng.integers(0, 6))) % 7)
        out.append({"kind": "raster", "dataset": ds, "version": ver, "fmt": "json",
                    "sql": sql, "aoi": aoi})
    return out


def request_path(r):
    """The HTTP path of a pool entry; `{aoiN}` stands for the geostore id
    the harness creates for that AOI."""
    if r["kind"] == "zonal":
        return f"/analysis/zonal?geostore_id={{{r['aoi']}}}&tcd_threshold={r['tcd']}"
    p = f"/dataset/{r['dataset']}/{r['version']}/query/{r['fmt']}?sql={_enc(r['sql'])}"
    if r.get("aoi"):
        p += f"&geostore_id={{{r['aoi']}}}"
    return p


# ---------------------------------------------------------------- ingest

INGEST_BOX = (-10.0, -10.0, 10.0, 10.0)


# feature counts of the ingest sources: a fixed ladder, shuffled per seed,
# so fixed cost and per-byte cost separate and every seed ingests the
# same sizes
INGEST_SIZES = [500, 1000, 2000, 4000]


def write_ingest_sources(seed, out_dir, n_files=12):
    """Seeded NDJSON point-feature files of varied size."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    files = []
    sizes = np.concatenate([rng.permutation(INGEST_SIZES)
                            for _ in range(n_files // len(INGEST_SIZES) + 1)])
    for i in range(n_files):
        n = int(sizes[i])
        lon = np.round(rng.uniform(INGEST_BOX[0], INGEST_BOX[2], n), 5)
        lat = np.round(rng.uniform(INGEST_BOX[1], INGEST_BOX[3], n), 5)
        cat = rng.integers(0, 10, n)
        val = np.round(rng.uniform(0, 1000, n), 2)
        path = os.path.join(out_dir, f"src{i:03d}.ndjson")
        with open(path, "w") as f:
            for j in range(n):
                f.write('{"type":"Feature","geometry":{"type":"Point","coordinates":'
                        f'[{lon[j]},{lat[j]}]}},"properties":{{"pid":{j},'
                        f'"cat":{cat[j]},"val":{val[j]}}}}}\n')
        files.append({"path": os.path.abspath(path), "bytes": os.path.getsize(path),
                      "features": n})
    return files


INGEST_READS = [
    ("json", "SELECT cat, COUNT(*) AS n FROM data GROUP BY cat ORDER BY cat"),
    ("json", "SELECT COUNT(*) AS n, SUM(CAST(val AS DECIMAL(14,2))) AS total FROM data"),
    ("aoi_csv", "SELECT pid, cat FROM data WHERE val > {v} ORDER BY pid"),
]


def ingest_reads(rng, n=6):
    """AOI reads of the newest ingested version, over six AOIs."""
    quads = {}
    for i in range(n):
        cx, cy = rng.uniform(-8, 6, 2)
        s = float(rng.uniform(0.5, 4.0))
        quads[f"ing{i}"] = convex_quad(rng, cx, cy, cx + s, cy + s)
    reads = []
    for i in range(n):
        fmt, sql = INGEST_READS[i % len(INGEST_READS)]
        reads.append({"kind": "aoi_read", "fmt": fmt, "aoi": f"ing{i}",
                      "sql": sql.format(v=int(rng.integers(900, 1000)))})
    return quads, reads


def api_mixed_plan(seed, files, length=20000):
    """Pool of distinct requests plus a seeded draw order over it: 16
    tabular, 16 raster and 6 AOI reads, and 1 draw in 20 a gate-rejected
    query; the NDJSON files the writer ingests in turn."""
    rng = np.random.default_rng([seed, 2])
    quads = {f"aoi{i}": raster_aoi(rng, w, h) for i, (w, h) in enumerate(AOI_SPANS)}
    ing_quads, aoi_reads = ingest_reads(rng)
    quads.update(ing_quads)
    tab = tabular_pool(rng, 16)
    ras = raster_pool(rng, 16)
    rej = [{"kind": "rejected", "dataset": d, "version": "v1", "fmt": "json", "sql": s}
           for d, s in REJECTED]
    reads = tab + ras + aoi_reads
    pool = reads + rej
    for i, r in enumerate(pool):
        r["key"] = f"r{i:03d}"
        if r["kind"] != "aoi_read":
            r["path"] = request_path(r)
    # seeded permutations of the reads, so any window sees every entry
    # about equally often; a rejection replaces 1 draw in 20
    seq = np.concatenate([rng.permutation(len(reads))
                          for _ in range(length // len(reads) + 1)])[:length]
    rej_at = rng.random(length) < 0.05
    seq[rej_at] = len(reads) + rng.integers(0, len(rej), int(rej_at.sum()))
    return {"aois": {k: geojson(v) for k, v in quads.items()}, "quads": quads,
            "pool": pool, "sequence": seq.tolist(), "files": files}
