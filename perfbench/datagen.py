"""Seeded inputs for the benchmark workloads.

Everything here is the benchmark's own cost: it runs before set-up is
timed and the program under test only ever sees the files it writes.

- :func:`write_star_schema` writes the sf0.1-shaped star schema
  (``region nation customer part orders lineitem events``) that the
  serving requests read, with the column names, types and value grids
  of the synthetic tables the package is written against.
- :func:`admin_boundaries` / :func:`write_boundaries` make the
  district polygons (a shapefile + its .dbf attribute table).
- :func:`write_grid_file`, :func:`write_risk_dbf` and
  :func:`write_incident_xlsx` make one upload each: a NetCDF rainfall
  grid (classic CDF-1 or NetCDF-4/HDF5), a DBF risk table and an xlsx
  incident workbook.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# star schema (sf0.1 row counts)
# --------------------------------------------------------------------------

N_CUSTOMER = 15_000
N_PART = 20_000
N_ORDERS = 150_000
N_EVENTS = 100_000
N_USERS = 1_500

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

ORDER_DAY0 = np.datetime64("1995-01-01", "D")
ORDER_DAYS = 2405
EVENT_T0 = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * 86_400 * 1_000_000


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """2-dp prices, exact in cents (the oracle's cent-sum parity rule)."""
    return rng.integers(round(lo * 100), round(hi * 100), n) / 100.0


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def write_star_schema(out_dir: str, seed: int) -> dict[str, int]:
    """Write the seven serving tables as one parquet file each; returns
    ``{table: rows}``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(N_CUSTOMER, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMER)]),
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER, dtype=np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_CUSTOMER)),
            "c_mktsegment": _pick(rng, SEGMENTS, N_CUSTOMER),
        }
    )
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, len(PART_ADJ), N_PART)]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, len(PART_NOUN), N_PART)]
    pkeys = np.arange(N_PART, dtype=np.int64)
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(pkeys),
            "p_name": pa.array(adj + " " + noun),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], N_PART),
            "p_type": _pick(rng, PART_TYPES, N_PART),
            "p_size": pa.array(rng.integers(1, 51, N_PART, dtype=np.int32)),
            "p_retailprice": pa.array(900.0 + (pkeys % 1000) / 10.0),
        }
    )

    order_day = ORDER_DAY0 + rng.integers(0, ORDER_DAYS, N_ORDERS)
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(N_ORDERS, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS, dtype=np.int64)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], N_ORDERS),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, N_ORDERS)),
            "o_orderdate": pa.array(order_day.astype("datetime64[us]")),
            "o_orderpriority": _pick(rng, PRIORITIES, N_ORDERS),
        }
    )

    # 1-7 lines per order, numbered 1..n: (l_orderkey, l_linenumber) unique
    lines = rng.integers(1, 8, N_ORDERS)
    l_orderkey = np.repeat(np.arange(N_ORDERS, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_linenumber = (np.arange(len(l_orderkey)) - starts + 1).astype(np.int32)
    n_li = len(l_orderkey)
    ship = np.repeat(order_day, lines) + rng.integers(1, 122, n_li)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_orderkey),
            "l_partkey": pa.array(rng.integers(0, N_PART, n_li, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, 1_000, n_li, dtype=np.int64)),
            "l_linenumber": pa.array(l_linenumber),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": pa.array(ship.astype("datetime64[us]")),
        }
    )

    ts = EVENT_T0 + np.sort(rng.integers(0, EVENT_SPAN_US, N_EVENTS)).astype("timedelta64[us]")
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
            "ts": pa.array(ts),
            "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS, dtype=np.int64)),
            "event_type": _pick(rng, EVENT_TYPES, N_EVENTS),
            "value": pa.array(np.round(rng.exponential(50.0, N_EVENTS), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]),
        }
    )

    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# --------------------------------------------------------------------------
# ingest inputs: boundaries, grids, risk tables, incident workbooks
# --------------------------------------------------------------------------

#: northern provinces (kept by the dims pipeline) with their Thai names
PROVINCES = [
    ("Chiang Mai", "เชียงใหม่"),
    ("Chiang Rai", "เชียงราย"),
    ("Lampang", "ลำปาง"),
    ("Lamphun", "ลำพูน"),
    ("Mae Hong Son", "แม่ฮ่องสอน"),
    ("Nan", "น่าน"),
    ("Phayao", "พะเยา"),
    ("Phrae", "แพร่"),
    ("Uttaradit", "อุตรดิตถ์"),
]
DISTRICTS = [
    ("Mueang", "เมือง"),
    ("Mae Rim", "แม่ริม"),
    ("San Sai", "สันทราย"),
    ("Doi Saket", "ดอยสะเก็ด"),
    ("Hang Dong", "หางดง"),
    ("San Kamphaeng", "สันกำแพง"),
    ("Saraphi", "สารภี"),
    ("Mae Taeng", "แม่แตง"),
    ("Chom Thong", "จอมทอง"),
    ("Fang", "ฝาง"),
    ("Phrao", "พร้าว"),
    ("San Pa Tong", "สันป่าตอง"),
]
#: ADM2 records in the reference's nationwide boundary file
#: (tha_admbnda_adm2, 928 records; about 103 of them northern)
ADM2_RECORDS = 928
#: districts per non-northern province (the dims pipeline drops them)
OTHER_PER_PROVINCE = 12

#: Northern districts tile the 3x3-degree block from (DIST_LON0,
#: DIST_LAT0): one 1-degree block per province, cut 4 x 3 into districts
#: (9 x 12 = 108 districts, the reference's ~103).  The grid is the
#: Thailand bbox slice of the CHIRPS v2.0 daily 0.05-degree file the
#: reference ingests: lat 5.6-20.5 N, lon 97.3-105.7 E, 298 x 168 cells.
DIST_LAT0, DIST_LON0 = 17.0, 98.0
DIST_COLS, DIST_ROWS = 4, 3
GRID_LAT0, GRID_LON0, GRID_STEP, GRID_NLAT, GRID_NLON = 5.6, 97.3, 0.05, 298, 168
GRID_DAY0 = dt.date(2023, 1, 1)
FILL = -9999.0


def _rect_ring(x0: float, y0: float, x1: float, y1: float, k: int = 8) -> list[tuple[float, float]]:
    """Closed counter-clockwise rectangle ring with ``k`` points per side,
    so point-in-polygon tests walk a realistic vertex count."""
    t = np.linspace(0.0, 1.0, k, endpoint=False)
    pts = (
        [(x0 + (x1 - x0) * s, y0) for s in t]
        + [(x1, y0 + (y1 - y0) * s) for s in t]
        + [(x1 - (x1 - x0) * s, y1) for s in t]
        + [(x0, y1 - (y1 - y0) * s) for s in t]
    )
    return pts + [pts[0]]


def admin_boundaries() -> pd.DataFrame:
    """ADM2 attribute rows + outer ring per district, ADM2_RECORDS in all:
    the nine northern provinces tile a 3x3-degree block of the grid; the
    other provinces' districts are small squares further south, which the
    dims pipeline filters out."""
    rows = []
    w, h = 1.0 / DIST_COLS, 1.0 / DIST_ROWS
    for p, (p_en, p_th) in enumerate(PROVINCES):
        px, py = DIST_LON0 + (p % 3), DIST_LAT0 + (p // 3)
        for d, (d_en, d_th) in enumerate(DISTRICTS):
            x0, y0 = px + w * (d % DIST_COLS), py + h * (d // DIST_COLS)
            rows.append((p_en, p_th, d_en, d_th, _rect_ring(x0, y0, x0 + w, y0 + h)))
    for i in range(ADM2_RECORDS - len(rows)):
        p, d = divmod(i, OTHER_PER_PROVINCE)
        x0, y0 = 98.5 + 0.2 * (i % 35), 6.0 + 0.4 * (i // 35)
        rows.append(
            (f"Province {p}", f"ภาค{p}", f"District {d}", f"เขต{d}", _rect_ring(x0, y0, x0 + 0.15, y0 + 0.15))
        )
    return pd.DataFrame(rows, columns=["ADM1_EN", "ADM1_TH", "ADM2_EN", "ADM2_TH", "ring"])


def write_boundaries(shp_path: str) -> str:
    """Write the boundaries as ``.shp`` + ``.dbf`` (Thai names carry the
    จังหวัด / อำเภอ prefixes the dims pipeline strips); returns the
    .dbf path."""
    from mini_project_204721_data_engineering_spark.sources.dbf import write_dbf
    from mini_project_204721_data_engineering_spark.sources.shapefile import write_shp

    adm = admin_boundaries()
    write_shp([[r] for r in adm["ring"]], shp_path)
    attrs = pd.DataFrame(
        {
            "ADM1_EN": adm["ADM1_EN"],
            "ADM1_TH": "จังหวัด" + adm["ADM1_TH"],
            "ADM2_EN": adm["ADM2_EN"],
            "ADM2_TH": "อำเภอ" + adm["ADM2_TH"],
        }
    )
    dbf_path = shp_path[:-4] + ".dbf"
    write_dbf(attrs, dbf_path, encoding="utf-8")
    return dbf_path


def grid_axes() -> tuple[np.ndarray, np.ndarray]:
    """Cell-centre latitudes and longitudes (float32, as CHIRPS stores them)."""
    lat = GRID_LAT0 + (np.arange(GRID_NLAT) + 0.5) * GRID_STEP
    lon = GRID_LON0 + (np.arange(GRID_NLON) + 0.5) * GRID_STEP
    return lat.astype(np.float32), lon.astype(np.float32)


def grid_precip(rng: np.random.Generator, days: int) -> np.ndarray:
    """``days x lat x lon`` float32 rainfall: ~45% dry cells, a few
    missing (fill) cells, gamma-distributed wet amounts."""
    shape = (days, GRID_NLAT, GRID_NLON)
    precip = rng.gamma(0.8, 12.0, shape).astype(np.float32)
    precip[rng.random(shape) < 0.45] = 0.0
    precip[rng.random(shape) < 0.01] = FILL
    return precip


def write_grid_file(path: str, precip: np.ndarray, first_day: int, hdf5: bool) -> None:
    """Write one rainfall grid: NetCDF-4/HDF5 (one chunk per day,
    shuffle+deflate; CHIRPS ships NetCDF-4) or classic CDF-1."""
    lats, lons = grid_axes()
    days = precip.shape[0]
    time = np.arange(first_day, first_day + days, dtype=np.float64)
    units = f"days since {GRID_DAY0.isoformat()}"
    if hdf5:
        from mini_project_204721_data_engineering_spark.sources.hdf5 import write_hdf5

        write_hdf5(
            path,
            datasets={
                "time": (time, {"units": units}),
                "latitude": (lats, {"units": "degrees_north"}),
                "longitude": (lons, {"units": "degrees_east"}),
                "precip": (precip, {"_FillValue": np.float32(FILL), "units": "mm/day"}),
            },
            dim_names={
                "time": ["time"],
                "latitude": ["latitude"],
                "longitude": ["longitude"],
                "precip": ["time", "latitude", "longitude"],
            },
            options={"precip": {"chunks": (1, GRID_NLAT, GRID_NLON), "deflate": 4, "shuffle": True}},
            flavor="v2",
        )
    else:
        from mini_project_204721_data_engineering_spark.sources.netcdf3 import write_netcdf3

        write_netcdf3(
            path,
            dims={"time": days, "latitude": GRID_NLAT, "longitude": GRID_NLON},
            variables={
                "time": (["time"], time, {"units": units}),
                "latitude": (["latitude"], lats, {"units": "degrees_north"}),
                "longitude": (["longitude"], lons, {"units": "degrees_east"}),
                "precip": (
                    ["time", "latitude", "longitude"],
                    precip,
                    {"_FillValue": np.float32(FILL), "units": "mm/day"},
                ),
            },
        )


RISK_WORDS = ["ต่ำ", "ต่ำมาก", "ปานกลาง", "กลาง", "สูง", "สูงมาก", "low", "medium", "high"]


def risk_rows(rng: np.random.Generator) -> pd.DataFrame:
    """One DBF risk table: a random subset of provinces, a few rows per
    district (risk words and numeric classes), spelled with and without
    the จ. / อ. prefixes, plus rows for a district the dims do not know."""
    provs = rng.choice(len(PROVINCES), size=int(rng.integers(3, 7)), replace=False)
    rows = []
    for p in sorted(provs):
        p_th = PROVINCES[p][1]
        for d in rng.choice(len(DISTRICTS), size=int(rng.integers(1, 5)), replace=False):
            d_th = DISTRICTS[d][1]
            for _ in range(int(rng.integers(2, 9))):
                if rng.random() < 0.6:
                    cls = RISK_WORDS[int(rng.integers(0, len(RISK_WORDS)))]
                else:
                    cls = f"{rng.choice([0.1, 0.5, 0.9, 1.0, 2.0, 3.0, 4.0])}"
                prov = ("จ." if rng.random() < 0.5 else "") + p_th
                amp = ("อ." if rng.random() < 0.5 else "") + d_th
                rows.append((prov, amp, cls))
        rows.append((p_th, "ไม่มีจริง", "สูง"))
    return pd.DataFrame(rows, columns=["PROV_NAM_T", "AMPHOE_T", "CLASS"])


def write_risk_dbf(path: str, rows: pd.DataFrame) -> None:
    from mini_project_204721_data_engineering_spark.sources.dbf import write_dbf

    write_dbf(rows, path)


def incident_rows(rng: np.random.Generator, first_day: int, days: int, n: int) -> pd.DataFrame:
    """One incident workbook sheet: ``n`` rows over a ``days``-day window
    (date cells, Thai names with stray spaces), about 3% junk rows (bad
    dates, unknown provinces) that the pipeline must drop."""
    day = rng.integers(first_day, first_day + days, n)
    p = rng.integers(0, len(PROVINCES), n)
    d = rng.integers(0, len(DISTRICTS), n)
    dates: list[object] = [GRID_DAY0 + dt.timedelta(days=int(x)) for x in day]
    provs = [PROVINCES[i][1] for i in p]
    dists = [DISTRICTS[i][1] for i in d]
    for i in np.flatnonzero(rng.random(n) < 0.015):
        dates[i] = "n/a"
    for i in np.flatnonzero(rng.random(n) < 0.015):
        provs[i] = "นอกระบบ"
    for i in np.flatnonzero(rng.random(n) < 0.2):
        provs[i] = f" {provs[i]} "
    return pd.DataFrame({"Disaster Date": dates, "Province": provs, "District": dists})


def write_incident_xlsx(path: str, rows: pd.DataFrame) -> None:
    from mini_project_204721_data_engineering_spark.sources.xlsx import write_xlsx

    summary = pd.DataFrame({"note": ["generated incident log"]})
    write_xlsx({"Summary": summary, "Incidents 2566": rows}, path)


if __name__ == "__main__":
    # python3 -m perfbench.datagen OUT_DIR SEED: the star schema, written
    # in a process of its own so its memory stays out of the benchmark's
    import json
    import sys

    print(json.dumps(write_star_schema(sys.argv[1], int(sys.argv[2]))))
