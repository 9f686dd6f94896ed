"""Output checks: every answer the engine gave is recomputed by DuckDB
from the same inputs and compared value by value.

- tabular answers: the user's SQL over the same parquet;
- raster answers: a generate_series replay of every pixel of the
  synthetic raster lake (the method the engine's own raster oracles use);
- ingest AOI answers: the same SQL over the generated NDJSON, with the AOI
  as half-plane tests;
- batch answers: the registry's oracle SQL over the same lake.

Each check returns a list of (key, problem) pairs; an empty list passes.
"""
import csv
import io
import json
import re
from decimal import Decimal

import duckdb

from lake import RASTER_LAT1, RASTER_LON0

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(lake_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{lake_dir}/{t}.parquet'")
    return con


def same(a, b):
    """Cell equality: numbers by value (exact for integers and decimals,
    to 1e-9 relative for floats), everything else as text."""
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, bool) or isinstance(b, bool):
        return str(a).lower() == str(b).lower()
    if isinstance(a, (int, float, Decimal)) and isinstance(b, (int, float, Decimal)):
        if isinstance(a, float) or isinstance(b, float):
            fa, fb = float(a), float(b)
            return fa == fb or abs(fa - fb) <= 1e-9 * max(abs(fa), abs(fb))
        return Decimal(a) == Decimal(b)
    return str(a) == str(b)


def compare(got_cols, got_rows, exp_cols, exp_rows, ordered):
    if list(got_cols) != list(exp_cols):
        return f"columns {got_cols} != {exp_cols}"
    if len(got_rows) != len(exp_rows):
        return f"{len(got_rows)} rows, expected {len(exp_rows)}"
    if not ordered:
        key = lambda r: tuple((x is None, str(x)) for x in r)
        got_rows, exp_rows = sorted(got_rows, key=key), sorted(exp_rows, key=key)
    for i, (g, e) in enumerate(zip(got_rows, exp_rows)):
        if not all(same(x, y) for x, y in zip(g, e)):
            return f"row {i}: {g} != {e}"
    return None


def parse_body(body, fmt):
    """(columns, rows) of a JSEND or CSV answer."""
    if fmt == "json":
        data = json.loads(body, parse_float=Decimal)["data"]
        cols = list(data[0].keys()) if data else None
        return cols, [tuple(r.values()) for r in data]
    if body == "":
        return None, []
    rows = list(csv.reader(io.StringIO(body), quoting=csv.QUOTE_NONNUMERIC))
    return rows[0], [tuple(r) for r in rows[1:]]


def run(con, sql):
    r = con.execute(sql)
    return [d[0] for d in r.description], r.fetchall()


def check_answer(key, body, fmt, con, sql, ordered):
    cols, rows = parse_body(body, fmt)
    ecols, erows = run(con, sql)
    if cols is None:  # an empty answer carries no header
        cols = ecols
    why = compare(cols, rows, ecols, erows, ordered)
    return [(key, why)] if why else []


# ------------------------------------------------------------- tabular

def check_tabular(pool, responses, con):
    bad = []
    for r in pool:
        if r["kind"] == "aoi_read":
            continue
        got = responses.get(r["key"])
        if got is None:
            bad.append((r["key"], "no answer recorded"))
            continue
        if r["kind"] == "rejected":
            if got["status"] != 400:
                bad.append((r["key"], f"status {got['status']}, expected 400"))
            continue
        if got["status"] != 200:
            bad.append((r["key"], f"status {got['status']}: {got['body'][:200]}"))
            continue
        if r["kind"] == "tabular":
            sql = re.sub(r"\bFROM data\b", f"FROM {r['dataset']}", r["sql"])
            bad += check_answer(r["key"], got["body"], r["fmt"], con, sql,
                                "ORDER BY" in r["sql"])
    return bad


# -------------------------------------------------------------- raster

# The synthetic lake's grid and band formulas over global pixel
# coordinates gx, gy (400 x 400 pixels of 0.01 degree).
PX, DEG = 400, 0.01
GX, GY = f"(p % {PX})", f"(p // {PX})"
LANDCOVER = f"(({GX} * 31 + {GY} * 17) % 7)"
TCD = f"(({GX} + {GY} * 3) % 101)"
BIOMASS10 = f"(({GX} * 13 + {GY} * 7) % 1000)"
BAND_U = f"(({GX} * 11 + {GY}) % 50)"
BAND_W = f"(({GX} + {GY} * 19) % 50)"
MICROHA = (f"CAST(floor((sin(radians({RASTER_LAT1} - {GY} * {DEG})) - "
           f"sin(radians({RASTER_LAT1} - ({GY} + 1) * {DEG}))) * radians({DEG}) * "
           "6371008.8 * 6371008.8 / 10000.0 * 1000000.0) AS BIGINT)")
LANDCOVER_NAMES = ["forest", "grassland", "cropland", "wetland", "settlement",
                   "bare", "water"]


def half_planes(quad, x, y):
    return " AND ".join(
        f"(({x2} - {x1}) * ({y} - {y1}) - ({y2} - {y1}) * ({x} - {x1})) >= 0"
        for (x1, y1), (x2, y2) in zip(quad, quad[1:] + quad[:1]))


def raster_replay(r, quad):
    """DuckDB SQL giving the answer the raster request r must return."""
    lon = f"({RASTER_LON0} + {GX} * {DEG} + {DEG / 2})"
    lat = f"({RASTER_LAT1} - {GY} * {DEG} - {DEG / 2})"
    px = (f"WITH px AS (SELECT unnest(generate_series(0, {PX * PX - 1})) AS p), "
          f"m AS (SELECT * FROM px WHERE {half_planes(quad, lon, lat)})")
    year = f"CAST(2001 + {BAND_W} % 24 AS BIGINT)"
    if r["kind"] == "zonal":
        dec = " ".join(f"WHEN k = {i} THEN '{n}'" for i, n in enumerate(LANDCOVER_NAMES))
        return (f"{px}, f AS (SELECT {LANDCOVER} AS k, {MICROHA} AS a FROM m "
                f"WHERE {TCD} >= {r['tcd']}) "
                f"SELECT k AS landcover, CASE {dec} ELSE 'unknown' END AS landcover_name, "
                "CAST(sum(a) AS DOUBLE) / 1000000.0 AS area_ha, count(*) AS pixel_count "
                "FROM f GROUP BY k ORDER BY k")
    sql = r["sql"]
    num = lambda name: int(re.search(name + r"\D*(\d+)", sql).group(1))
    if "umd_tree_cover_loss__year, SUM(area__ha)" in sql:
        return (f"{px}, f AS (SELECT {year} AS y, {MICROHA} AS a FROM m WHERE {BAND_U} != 0 "
                f"AND {TCD} >= {num('threshold >= ')} AND {year} >= {num('year >= ')} "
                f"AND {BAND_W} != 0) SELECT y AS umd_tree_cover_loss__year, "
                "CAST(sum(a) AS DOUBLE) / 1000000.0 AS area__ha FROM f GROUP BY y ORDER BY y")
    if "pixel__count" in sql:
        return (f"{px}, f AS (SELECT {MICROHA} AS a FROM m WHERE {LANDCOVER} = "
                f"{num('class = ')} AND {TCD} >= {num('threshold >= ')}) "
                "SELECT CAST(sum(a) AS DOUBLE) / 1000000.0 AS area__ha, "
                "count(*) AS pixel__count FROM f")
    if "biomass__Mg" in sql:
        return (f"{px}, f AS (SELECT CAST({LANDCOVER} AS BIGINT) AS k, "
                f"{BIOMASS10} * {MICROHA} AS v FROM m WHERE {TCD} >= {num('threshold >= ')}) "
                "SELECT k AS landcover_raster__class, CAST(sum(v) AS DOUBLE) / 1.0E7 "
                "AS biomass__Mg FROM f GROUP BY k ORDER BY k")
    if "loss__count" in sql:
        k = re.search(r"IN \((\d+), (\d+)\)", sql).groups()
        return (f"{px}, f AS (SELECT {year} AS y FROM m WHERE {LANDCOVER} IN ({k[0]}, {k[1]}) "
                f"AND {BAND_W} != 0) SELECT y AS umd_tree_cover_loss__year, "
                "count(*) AS loss__count FROM f GROUP BY y ORDER BY y")
    raise ValueError(f"no replay for raster query {sql}")


def check_raster(pool, responses, quads, con):
    bad = []
    for r in pool:
        if r["kind"] not in ("raster", "zonal"):
            continue
        got = responses.get(r["key"])
        if got is None or got["status"] != 200:
            bad.append((r["key"], f"status {got and got['status']}: "
                                  f"{got and got['body'][:200]}"))
            continue
        bad += check_answer(r["key"], got["body"], "json", con,
                            raster_replay(r, quads[r["aoi"]]), True)
    return bad


# -------------------------------------------------------------- ingest

def check_ingest(plan, responses, con):
    """responses: '<read key>@v<version>' -> body of the first answer;
    version v was built from file (v - 1) mod len(files)."""
    files = plan["files"]
    reads = {r["key"]: r for r in plan["pool"] if r["kind"] == "aoi_read"}
    bad = []
    for rk, body in responses.items():
        key, v = rk.split("@v")
        r = reads[key]
        path = files[(int(v) - 1) % len(files)]["path"]
        quad = plan["quads"][r["aoi"]]
        src = (f"(SELECT * FROM (SELECT geometry.coordinates[1] AS lon, "
               f"geometry.coordinates[2] AS lat, properties.pid AS pid, "
               f"properties.cat AS cat, properties.val AS val FROM "
               f"read_json_auto('{path}', format='newline_delimited')) "
               f"WHERE {half_planes(quad, 'lon', 'lat')})")
        sql = re.sub(r"\bFROM data\b", f"FROM {src} d", r["sql"])
        fmt = "csv" if r["fmt"] == "aoi_csv" else "json"
        bad += check_answer(rk, body, fmt, con, sql, "ORDER BY" in r["sql"])
    return bad


# --------------------------------------------------------------- batch

def check_batch(names, oracles, dumps_dir, con):
    """Each dumped answer against the registry's oracle SQL: same column
    names and DuckDB types, same rows as a multiset."""
    bad, checked = [], []
    for n in names:
        sql = oracles.get(n)
        if sql is None or "{" in sql:
            continue
        got = f"SELECT * FROM '{dumps_dir}/{n}/*.parquet'"
        gt = sorted(con.execute(f"DESCRIBE {got}").fetchall())
        et = sorted(con.execute(f"DESCRIBE ({sql})").fetchall())
        gt, et = [(c[0], c[1]) for c in gt], [(c[0], c[1]) for c in et]
        if gt != et:
            bad.append((n, f"types {gt} != {et}"))
            continue
        gcols, grows = run(con, got)
        ecols, erows = run(con, sql)
        order = sorted(range(len(gcols)), key=lambda i: gcols[i])
        eorder = sorted(range(len(ecols)), key=lambda i: ecols[i])
        why = compare([gcols[i] for i in order], [tuple(r[i] for i in order) for r in grows],
                      [ecols[i] for i in eorder], [tuple(r[i] for i in eorder) for r in erows],
                      False)
        checked.append(n)
        if why:
            bad.append((n, why))
    return bad, checked
