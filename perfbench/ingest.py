"""``ingest`` workload: data engineers uploading source files.

One writer makes a seeded sequence of uploads, each flowing through
``sources`` -> ``pipelines`` -> ``sources.snapshots``:

- NetCDF rainfall grids, each upload landing one classic CDF-1 file and
  one NetCDF-4/HDF5 file (shuffle+deflate) of consecutive days:
  ``netcdf_files_to_long`` -> ``ingest_rain_grid`` -> ``snapshot_append``
  into the ``rain`` table;
- DBF risk tables: ``read_dbf`` -> ``ingest_risk_dbf`` -> ``risk``;
- xlsx incident workbooks: ``read_incident_workbook`` ->
  ``ingest_incidents(existing=<current table>)`` -> ``incidents``.

District dimensions come from a generated shapefile.  The writer uploads
in blocks of a rainfall grid and one side file (risk or incidents).  Every
grid upload holds both containers, so grid uploads are alike and their
median does not depend on how many of each kind a window holds.
Beside it, READERS reader threads issue ``read_snapshot_where`` point
and range lookups and ``snapshot_agg`` per-day rollups against the
growing rain table, two lookups per rollup, each reading the newest
snapshot.  Reads beside writes keep the commit path and the read path
in one measurement: a change that speeds commits but slows lookups
shows, and so does the reverse.

Checked after the timed window: rain rows against district-day weighted
means and volumes computed with numpy from the seeded grids, risk levels
and incident counts against pandas mirrors of the pipelines, and every
lookup and rollup against ``read_snapshot(..., version=v)`` filtered and
aggregated by DuckDB, where ``v`` is a version the table had while the
read ran.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import re
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from perfbench import common as C
from perfbench import datagen as G
from perfbench import layers
from perfbench.trace import SparkWork, Tracer

#: days per grid file; a grid upload lands two files
GRID_DAYS = 3
INCIDENT_ROWS = 1500
#: reader threads beside the one writer
READERS = 2
#: every reader repeats this sequence
READ_CYCLE = ("lookup", "lookup", "rollup")
RAIN_STATS = ["date", "district_id", "rainfall_mm", "rain_mm_wmean"]
ROLLUP_AGGS = {"n": "count(*)", "rain_mm": "sum(rainfall_mm)", "peak": "max(rain_mm_wmean)"}
KM_PER_DEG = 111.32
BBOX = (5.6, 20.5, 97.3, 105.7)


@dataclass
class Upload:
    kind: str  # "grid" | "risk" | "incidents"
    path: str  # the landing directory of a grid upload
    upload_id: int
    first_day: int = 0
    precip: np.ndarray | None = None
    rows: pd.DataFrame | None = None
    points: int = 0
    version: int | None = None
    prev_version: int | None = None
    build_jobs: int | None = None
    files: list = field(default_factory=list)  # grid: (container, path)


@dataclass
class Read:
    kind: str  # "lookup" | "rollup"
    pred: str
    version: int  # rain version committed when the read started
    last: int = 0  # newest version it can have read (see reader)
    value: object = None


@dataclass
class State:
    spark: object = None
    polygons: pd.DataFrame | None = None
    province: object = None
    district: object = None
    dims: pd.DataFrame | None = None  # district_id, district, province, province_id
    tables: dict = field(default_factory=dict)
    versions: dict = field(default_factory=dict)
    rain_days: int = 0  # days of rain committed so far


# --------------------------------------------------------------------------
# set-up: session, boundaries, dimensions
# --------------------------------------------------------------------------

def setup(session: C.Session, tracer: Tracer, shp: str, dbf: str) -> State:
    from mini_project_204721_data_engineering_spark.pipelines.dims import build_dims
    from mini_project_204721_data_engineering_spark.sources.shapefile import read_shapefile

    st = State()
    with tracer.span("session.start"):
        st.spark = session.start()
    with tracer.span("sources.shapefile.read"):
        adm = read_shapefile(shp, dbf)
    with tracer.span("pipelines.dims.build"):
        province, district = build_dims(st.spark.createDataFrame(adm.drop(columns="wkt")))
        # cached: every upload joins them, the reference keeps them in tables
        st.province, st.district = province.cache(), district.cache()
        prov, dist = st.province.toPandas(), st.district.toPandas()
    dims = dist.merge(prov, on="province_id")
    geo = adm.merge(
        dims, left_on=["ADM1_EN", "ADM2_EN"], right_on=["province_name_en", "district_name_en"]
    )
    st.polygons = pd.DataFrame(
        {"province": geo["province_name"], "district": geo["district_name"], "wkt": geo["wkt"]}
    )
    st.dims = dims[["district_id", "district_name", "province_name", "province_id"]]
    return st


# --------------------------------------------------------------------------
# operations
# --------------------------------------------------------------------------

def upload(st: State, tracer: Tracer, work: SparkWork | None, up: Upload) -> None:
    from mini_project_204721_data_engineering_spark.pipelines.incidents import ingest_incidents
    from mini_project_204721_data_engineering_spark.pipelines.rain import ingest_rain_grid
    from mini_project_204721_data_engineering_spark.pipelines.risk import ingest_risk_dbf
    from mini_project_204721_data_engineering_spark.sources.dbf import read_dbf
    from mini_project_204721_data_engineering_spark.sources.excel import read_incident_workbook
    from mini_project_204721_data_engineering_spark.sources.netcdf import netcdf_files_to_long
    from mini_project_204721_data_engineering_spark.sources.snapshots import (
        read_snapshot,
        snapshot_append,
    )

    spark = st.spark
    if up.kind == "grid":
        with tracer.span("sources.netcdf.files_to_long"):
            grid = netcdf_files_to_long(spark, up.path)
        jobs0 = work.jobs_so_far() if work and tracer.on() else 0
        with tracer.span("pipelines.rain.build"):
            out = ingest_rain_grid(grid, st.polygons, st.province, st.district, upload_id=up.upload_id)
        if work and tracer.on():
            up.build_jobs = work.jobs_so_far() - jobs0
        table = "rain"
        with tracer.span("snapshots.rain.append"):
            man = snapshot_append(out, st.tables[table], stats_cols=RAIN_STATS)
        st.rain_days = max(st.rain_days, up.first_day + up.precip.shape[0])
    elif up.kind == "risk":
        with tracer.span("sources.dbf.read"):
            pdf = read_dbf(up.path)
        dbf = spark.createDataFrame(pdf)
        with tracer.span("pipelines.risk.build"):
            out = ingest_risk_dbf(dbf, st.province, st.district, upload_risk_id=up.upload_id)
        table = "risk"
        with tracer.span("snapshots.risk.append"):
            man = snapshot_append(out, st.tables[table])
    else:
        with tracer.span("sources.excel.read"):
            pdf = read_incident_workbook(up.path)
        wb = spark.createDataFrame(pdf.astype(str))
        table = "incidents"
        existing = None
        if st.versions.get(table) is not None:
            with tracer.span("snapshots.incidents.read"):
                existing = read_snapshot(spark, st.tables[table])
        with tracer.span("pipelines.incidents.build"):
            out = ingest_incidents(wb, st.province, st.district, existing=existing)
        with tracer.span("snapshots.incidents.append"):
            man = snapshot_append(out, st.tables[table])
    up.prev_version = st.versions.get(table)
    up.version = st.versions[table] = man["version"]


def lookup(st: State, tracer: Tracer, pred: str) -> pd.DataFrame:
    from mini_project_204721_data_engineering_spark.sources.snapshots import read_snapshot_where

    with tracer.span("snapshots.lookup_build"):
        df = read_snapshot_where(st.spark, st.tables["rain"], pred)
    with tracer.span("snapshots.lookup_exec"):
        return df.toPandas()


def rollup(st: State, tracer: Tracer, where: str) -> dict:
    from mini_project_204721_data_engineering_spark.sources.snapshots import snapshot_agg

    with tracer.span("snapshots.agg"):
        return snapshot_agg(st.spark, st.tables["rain"], ROLLUP_AGGS, group_by="date", where=where)


# --------------------------------------------------------------------------
# the seeded upload sequence
# --------------------------------------------------------------------------

class Feed:
    """Generates the writer's upload files on demand (benchmark cost, kept
    out of the measured window).  Every block uploads one rainfall grid
    (a CDF-1 and a NetCDF-4 file, in seeded order) and one side file;
    side files alternate risk / incidents, each pair in seeded order."""

    def __init__(self, root: str, seed: int) -> None:
        self.root = root
        self.rng = np.random.default_rng([seed, 3])
        self.sides: list[str] = []
        self.n = 0
        self.grid_days = 0  # days of rain generated so far
        self.gen_s = 0.0

    def block(self) -> list[Upload]:
        if not self.sides:
            self.sides = ["risk", "incidents"]
            self.rng.shuffle(self.sides)
        return [self._make("grid"), self._make(self.sides.pop(0))]

    def warm_block(self) -> list[Upload]:
        """Small uploads of every kind, incidents twice (the second runs
        the ``existing=`` path): the first call of each code path costs
        the same whatever the input size."""
        kinds = ("grid", "risk", "incidents", "incidents")
        return [self._make(k, days=2, incident_rows=150) for k in kinds]

    def _make(self, kind: str, days: int = GRID_DAYS, incident_rows: int = INCIDENT_ROWS) -> Upload:
        t = time.perf_counter()
        self.n += 1
        d = os.path.join(self.root, f"upload-{self.n:04d}")
        os.makedirs(d)
        if kind == "grid":
            containers = ["cdf1", "hdf5"]
            self.rng.shuffle(containers)
            files, parts = [], []
            for i, container in enumerate(containers):
                parts.append(G.grid_precip(self.rng, days))
                files.append((container, os.path.join(d, f"chirps-{i}.nc")))
                G.write_grid_file(files[-1][1], parts[-1], self.grid_days + i * days, hdf5=container == "hdf5")
            precip = np.concatenate(parts)
            up = Upload(kind, d, self.n, self.grid_days, precip=precip, points=precip.size, files=files)
            self.grid_days += len(precip)
        elif kind == "risk":
            rows = G.risk_rows(self.rng)
            path = os.path.join(d, "risk.dbf")
            G.write_risk_dbf(path, rows)
            up = Upload(kind, path, self.n, rows=rows)
        else:
            first = int(self.rng.integers(0, max(1, self.grid_days)))
            rows = G.incident_rows(self.rng, first, 45, incident_rows)
            path = os.path.join(d, "incidents.xlsx")
            G.write_incident_xlsx(path, rows)
            up = Upload(kind, path, self.n, rows=rows)
        self.gen_s += time.perf_counter() - t
        return up


class Reads:
    """One reader's seeded read sequence.  Predicates are drawn as
    fractions of the rain days committed when each read is issued, so a
    seed fixes the sequence relative to the table's progress."""

    def __init__(self, seed: int, idx: int, district_ids: list[int]) -> None:
        self.rng = np.random.default_rng([seed, 4, idx])
        self.ids = district_ids
        self.n = 0

    def next(self, days: int) -> tuple[str, str]:
        kind = READ_CYCLE[self.n % len(READ_CYCLE)]
        self.n += 1
        rng = self.rng
        if kind == "rollup":
            back = int(rng.integers(7, 29))
            day = G.GRID_DAY0 + dt.timedelta(days=max(0, days - back))
            return kind, f"date >= DATE '{day:%Y-%m-%d}'"
        day = G.GRID_DAY0 + dt.timedelta(days=int(rng.random() * days))
        if rng.random() < 0.5:
            return kind, f"date = DATE '{day:%Y-%m-%d}' AND district_id = {int(rng.choice(self.ids))}"
        end = day + dt.timedelta(days=int(rng.integers(0, 14)))
        ids = ", ".join(str(int(i)) for i in rng.choice(self.ids, 3, replace=False))
        return kind, f"date BETWEEN DATE '{day:%Y-%m-%d}' AND DATE '{end:%Y-%m-%d}' AND district_id IN ({ids})"


def write_block(st, tracer, work, rec: C.Recorder, ups: list[Upload]) -> None:
    for up in ups:
        cls = "grid" if up.kind == "grid" else "side"
        op, _ = rec.run(f"upload_{up.kind}", cls, lambda: upload(st, tracer, work, up))
        op.info["upload"] = up


def writer(st, tracer, work, rec: C.Recorder, feed: Feed, deadline: float, done: threading.Event) -> None:
    """Whole blocks until the deadline: every window holds as many grid
    uploads as side uploads, so points per second do not depend on
    which kind the window ends with."""
    try:
        while time.perf_counter() < deadline:
            write_block(st, tracer, work, rec, feed.block())
    finally:
        done.set()


def read_once(st, tracer, rec: C.Recorder, reads: Reads) -> None:
    kind, pred = reads.next(st.rain_days)
    r = Read(kind, pred, st.versions["rain"])
    fn = lookup if kind == "lookup" else rollup
    op, r.value = rec.run(kind, kind, lambda: fn(st, tracer, pred))
    # the writer records a version only after its commit is visible, so
    # the read may have seen one version past the last one recorded
    r.last = st.versions["rain"] + 1
    op.info["read"] = r
    if op.traced and kind == "lookup":
        plan_info(st, r, op)


def reader(st, tracer, rec: C.Recorder, reads: Reads, done: threading.Event) -> None:
    """Reads until the writer stops, so every upload runs beside them."""
    while not done.is_set():
        read_once(st, tracer, rec, reads)


def plan_info(st: State, r: Read, op: C.Op) -> None:
    """Files a lookup planned vs the table's files (manifest only)."""
    from mini_project_204721_data_engineering_spark.sources.snapshots import snapshot_plan_info

    info = snapshot_plan_info(st.spark, st.tables["rain"], r.pred, version=r.version)
    op.info["plan"] = (info["files_planned"], info["files_total"])


# --------------------------------------------------------------------------
# expected results
# --------------------------------------------------------------------------

def _district_of_cell(dims: pd.DataFrame) -> np.ndarray:
    """``lat x lon`` array of the district id each grid cell centre lies
    in (by rectangle), -1 outside every kept district."""
    lat32, lon32 = G.grid_axes()
    lat, lon = lat32.astype(np.float64), lon32.astype(np.float64)
    ids = {(r.province_name, r.district_name): int(r.district_id) for r in dims.itertuples()}
    out = np.full((len(lat), len(lon)), -1)
    for r in G.admin_boundaries().itertuples():
        did = ids.get((r.ADM1_TH, r.ADM2_TH))
        if did is not None:
            xs, ys = [p[0] for p in r.ring], [p[1] for p in r.ring]
            inside = ((lat > min(ys)) & (lat < max(ys)))[:, None] & ((lon > min(xs)) & (lon < max(xs)))[None, :]
            out[inside] = did
    return out


def expected_rain(up: Upload, district_of: np.ndarray) -> dict:
    """``{(date, district_id): (rain_mm_wmean, rainfall_mm)}`` straight
    from the seeded grid: lon wrap, bbox, positive precipitation, cell ->
    district by rectangle, cos(lat)-weighted mean and cell-area volume."""
    lat32, lon32 = G.grid_axes()
    lat, lon = lat32.astype(np.float64), ((lon32.astype(np.float64) + 180) % 360) - 180
    p = up.precip.astype(np.float64)
    p[up.precip == np.float32(G.FILL)] = np.nan
    lat_in = (lat >= BBOX[0]) & (lat <= BBOX[1])
    lon_in = (lon >= BBOX[2]) & (lon <= BBOX[3])
    with np.errstate(invalid="ignore"):
        keep = (p > 0) & lat_in[None, :, None] & lon_in[None, None, :]
    lats = np.unique(lat[keep.any(axis=(0, 2))])
    lons = np.unique(lon[keep.any(axis=(0, 1))])
    dlat = float(np.min(np.diff(lats))) if len(lats) > 1 else 0.05
    dlon = float(np.min(np.diff(lons))) if len(lons) > 1 else 0.05
    area = KM_PER_DEG * dlat * KM_PER_DEG * dlon
    t, i, j = np.nonzero(keep & (district_of >= 0)[None])
    did, pv, w = district_of[i, j], p[t, i, j], np.cos(np.radians(lat[i]))
    # one group per (day, district); sums run in cell order
    groups, g = np.unique(np.stack([t, did]), axis=1, return_inverse=True)
    g = g.ravel()
    sum_pw = np.bincount(g, pv * w)
    sum_w = np.bincount(g, w)
    vol = np.bincount(g, pv * (area * w) * 1000 / 1e6)
    return {
        (G.GRID_DAY0 + dt.timedelta(days=up.first_day + int(day)), int(d)): (sum_pw[k] / sum_w[k], vol[k])
        for k, (day, d) in enumerate(groups.T)
    }


_WORDS = {
    "ต่ำ": 1, "ต่ำมาก": 1, "low": 1, "very low": 1, "ปานกลาง": 2, "กลาง": 2,
    "medium": 2, "สูง": 3, "สูงมาก": 3, "high": 3, "very high": 3,
}


def _norm_th(s: str) -> str:
    s = re.sub(r"\s+", " ", s.strip())
    s = re.sub(r"^จ\.", "", s)
    return re.sub(r"^อ\.", "", s).strip()


def _class_num(c: str) -> int | None:
    s = c.strip().lower()
    if s in _WORDS:
        return _WORDS[s]
    try:
        x = float(s)
    except ValueError:
        return None
    if 0.0 <= x <= 1.0:
        return 1 if x < 1 / 3 else 2 if x < 2 / 3 else 3
    return min(max(round(x), 1), 3)


def expected_risk(rows: pd.DataFrame, dims: pd.DataFrame) -> dict[int, int]:
    """``{district_id: risk_level}``: mean class per matched district
    binned to a level; unmatched districts of in-file provinces get 1."""
    df = pd.DataFrame(
        {
            "prov": rows["PROV_NAM_T"].map(_norm_th),
            "dist": rows["AMPHOE_T"].map(_norm_th),
            "n": rows["CLASS"].map(_class_num),
        }
    ).dropna()
    avg = df.groupby(["prov", "dist"])["n"].mean()
    level = {k: 1 if v <= 1.5 else 2 if v <= 2.1 else 3 for k, v in avg.items()}
    in_file = set(df["prov"]) & set(dims["province_name"])
    return {
        int(r.district_id): level.get((r.province_name, r.district_name), 1)
        for r in dims.itertuples()
        if r.province_name in in_file
    }


def expected_incidents(rows: pd.DataFrame, dims: pd.DataFrame, seen: set) -> dict:
    """``{(date, province_id, district_id): count}`` for keys not already
    in the table; ``seen`` is updated with them."""
    ids = {(r.province_name, r.district_name): (int(r.province_id), int(r.district_id)) for r in dims.itertuples()}
    counts: dict = {}
    for d, prov, dist in rows.itertuples(index=False, name=None):
        key = ids.get((str(prov).strip(), str(dist).strip()))
        if key is None or not hasattr(d, "year"):
            continue
        k = (d, *key)
        counts[k] = counts.get(k, 0) + 1
    new = {k: v for k, v in counts.items() if k not in seen}
    seen.update(new)
    return new


# --------------------------------------------------------------------------
# checks
# --------------------------------------------------------------------------

def _close(a: float, b: float, rel: float = 1e-9) -> bool:
    return math.isclose(a, b, rel_tol=rel, abs_tol=1e-9)


def check(st: State, ops: list[C.Op]) -> set[int]:
    """Ids of operations whose output was wrong (or could not be read
    back)."""
    import duckdb

    from mini_project_204721_data_engineering_spark.sources.snapshots import read_snapshot

    snaps: dict[tuple[str, int | None], pd.DataFrame] = {}

    def table(name: str, version: int | None) -> pd.DataFrame:
        if (name, version) not in snaps:
            snaps[name, version] = (
                read_snapshot(st.spark, st.tables[name], version=version).toPandas()
                if version is not None
                else pd.DataFrame()
            )
        return snaps[name, version]

    bad: set[int] = set()
    seen: set = set()
    uploads = sorted((o for o in ops if "upload" in o.info), key=lambda o: o.info["upload"].upload_id)
    district_of = _district_of_cell(st.dims)
    con = duckdb.connect()
    try:
        for op in uploads:
            up: Upload = op.info["upload"]
            # incident keys accumulate over every upload the pipeline saw
            expect = expected_incidents(up.rows, st.dims, seen) if up.kind == "incidents" else None
            if op.ok and not _guarded(lambda: _upload_ok(up, table, st.dims, district_of, expect), up.kind):
                bad.add(id(op))
        views: set[str] = set()

        def rain_view(version: int) -> str:
            name = f"rain_v{version}"
            if name not in views:
                con.register(name, table("rain", version))
                views.add(name)
            return name

        newest = st.versions.get("rain")
        for op in ops:
            r: Read | None = op.info.get("read")
            if r is None or not op.ok:
                continue
            versions = range(r.version, min(r.last, newest) + 1)
            if not _guarded(lambda: any(_read_ok(r, rain_view(v), con) for v in versions), r.pred):
                bad.add(id(op))
    finally:
        con.close()
    return bad


def _guarded(fn, what: str) -> bool:
    try:
        ok = fn()
    except Exception as e:  # a check that cannot run fails its operation
        C.log(f"ingest check error ({what}): {type(e).__name__}: {e}")
        return False
    if not ok:
        C.log(f"ingest check failed: {what}")
    return ok


def _upload_ok(up: Upload, table, dims: pd.DataFrame, district_of: np.ndarray, expect_incidents) -> bool:
    if up.kind == "grid":
        got = table("rain", up.version)
        got = got[got["upload_id"] == up.upload_id]
        gmap = {(r.date, int(r.district_id)): (r.rain_mm_wmean, r.rainfall_mm) for r in got.itertuples()}
        exp = expected_rain(up, district_of)
        return gmap.keys() == exp.keys() and all(
            _close(gmap[k][0], v[0]) and _close(gmap[k][1], v[1]) for k, v in exp.items()
        )
    if up.kind == "risk":
        got = table("risk", up.version)
        got = got[got["upload_risk_id"] == up.upload_id]
        levels = dict(zip(got["district_id"].astype(int), got["risk_level"].astype(int)))
        return len(levels) == len(got) and levels == expected_risk(up.rows, dims)
    cols = ["disaster_date", "province_id", "district_id", "count_of_disasters"]

    def rows(version):
        t = table("incidents", version)
        return set(t[cols].itertuples(index=False, name=None)) if len(t) else set()

    new = rows(up.version) - rows(up.prev_version)
    return {(d, int(p), int(k)): int(n) for d, p, k, n in new} == expect_incidents


def _read_ok(r: Read, rain: str, con) -> bool:
    """A lookup or rollup against DuckDB over the table view ``rain`` (the
    table at one version), with the same predicate text."""
    if r.kind == "lookup":
        res = con.execute(f"SELECT * FROM {rain} WHERE {r.pred}")
        cols = [d[0] for d in res.description]
        return cols == list(r.value.columns) and C.canon_rows(
            res.fetchall(), cols, False
        ) == C.frame_canon(r.value, False)
    exp = {
        d: (n, s, p)
        for d, n, s, p in con.execute(
            "SELECT date, count(*), sum(rainfall_mm), max(rain_mm_wmean) "
            f"FROM {rain} WHERE {r.pred} GROUP BY date"
        ).fetchall()
    }
    got = r.value
    return set(got) == set(exp) and all(
        got[d]["n"] == n and _close(got[d]["rain_mm"], s, 1e-6) and _close(got[d]["peak"], p)
        for d, (n, s, p) in exp.items()
    )


# --------------------------------------------------------------------------
# the workload
# --------------------------------------------------------------------------

def run(args, work: str) -> dict:
    shp = os.path.join(work, "adm", "adm2.shp")
    os.makedirs(os.path.dirname(shp))
    dbf = G.write_boundaries(shp)

    tracer = Tracer(enabled=bool(args.trace))
    session = C.Session("perfbench-ingest")
    try:
        setups = []
        for _ in range(1 + C.SETUP_CYCLES):
            t = time.perf_counter()
            st = setup(session, tracer, shp, dbf)
            setups.append(time.perf_counter() - t)
        C.log("ingest set-ups: " + ", ".join(f"{s:.2f}s" for s in setups))
        setup_spans = {s.name: s.ms for s in tracer.spans}
        first_start = tracer.named("session.start")[0].ms / 1000 if args.trace else 0.0
        tracer.spans.clear()

        # untimed: small uploads of every kind (grids beside side files,
        # which write other tables), then a read of each kind; the tables
        # they start stay for the window and are checked too
        t = time.perf_counter()
        st.tables = {name: os.path.join(work, "tables", name) for name in ("rain", "risk", "incidents")}
        feed = Feed(os.path.join(work, "uploads"), args.seed)
        quiet = C.Recorder(Tracer())
        warm = feed.warm_block()
        sides = threading.Thread(
            target=write_block, args=(st, quiet.tracer, None, quiet, [u for u in warm if u.precip is None])
        )
        sides.start()
        write_block(st, quiet.tracer, None, quiet, [u for u in warm if u.precip is not None])
        sides.join()
        ids = st.dims["district_id"].tolist()
        warm_reads = Reads(args.seed, READERS, ids)
        for _ in READ_CYCLE:
            read_once(st, quiet.tracer, quiet, warm_reads)
        C.log(
            f"ingest warm-up {time.perf_counter() - t:.1f}s: "
            + ", ".join(f"{op.kind} {op.ms / 1000:.1f}s" for op in quiet.ops)
        )

        work_ = SparkWork(st.spark) if args.trace else None
        rec = C.Recorder(tracer, work_)
        gen0 = feed.gen_s
        session.reset_peaks()
        cpu0 = session.cpu_s()
        t0 = time.perf_counter()
        done = threading.Event()
        threads = [threading.Thread(target=writer, args=(st, tracer, work_, rec, feed, t0 + args.seconds, done))] + [
            threading.Thread(target=reader, args=(st, tracer, rec, Reads(args.seed, i, ids), done))
            for i in range(READERS)
        ]
        for th in threads:
            th.start()
        threads[0].join()
        window = time.perf_counter() - t0 - (feed.gen_s - gen0)
        for th in threads[1:]:
            th.join()
        cpu = [b - a for a, b in zip(cpu0, session.cpu_s())]
        mem = session.peak_mem_mb()
        t = time.perf_counter()
        bad = check(st, quiet.ops + rec.ops)
        C.log(
            f"ingest window {window:.1f}s (cpu: python {cpu[0]:.1f}s, jvm {cpu[1]:.1f}s), "
            f"checks {time.perf_counter() - t:.1f}s"
        )
        ups = [op.info["upload"] for op in rec.ops if "upload" in op.info]
        decode = decode_rates(ups) if args.trace else {}
        lookup_ms = cell_lookup_ms(st) if args.trace else 0.0
    finally:
        session.shutdown()

    ops = rec.ops
    checked = quiet.ops + ops
    failed = sum(1 for op in checked if not op.ok or id(op) in bad)
    points = sum(op.info["upload"].points for op in ops if op.ok and "upload" in op.info)
    by = lambda *cls: [op.ms for op in ops if op.cls in cls]  # noqa: E731
    report = {
        "ingest_points_per_s": (points / window, "1/s"),
        "upload_p50_s": (C.median(by("grid")) / 1000, "s"),
        "side_upload_p50_s": (C.median(by("side")) / 1000, "s"),
        "lookup_p50_ms": (C.median(by("lookup")), "ms"),
        "lookup_p95_ms": (C.pct(by("lookup"), 95), "ms"),
        "rollup_p50_ms": (C.median(by("rollup")), "ms"),
        "failed_share": (failed / max(1, len(checked)), "ratio"),
        "uploads": (len(by("grid", "side")), "count"),
        "grid_uploads": (len(by("grid")), "count"),
        "lookups": (len(by("lookup")), "count"),
        "rollups": (len(by("rollup")), "count"),
        "python_peak_rss_mb": (mem[0], "MB"),
        "jvm_heap_peak_mb": (mem[1], "MB"),
    }
    C.report("ingest", report)
    metrics = {
        "setup_s": (C.median(setups[1:]), "s"),
        "throughput_per_s": report["ingest_points_per_s"],
        "op_p50_ms": (C.median(by("grid")), "ms"),
        "lookup_p50_ms": report["lookup_p50_ms"],
        "rollup_p50_ms": report["rollup_p50_ms"],
    }
    if args.trace:
        os.makedirs(args.trace_dir, exist_ok=True)
        stem = os.path.join(args.trace_dir, f"ingest-seed{args.seed}")
        tracer.write(stem + ".spans.jsonl")
        metrics = layer_metrics(
            tracer, ops, first_start, mem, setup_spans, decode, lookup_ms, stem + ".summary.json"
        )
    return C.result(failed == 0, len(checked), failed, metrics)


def decode_rates(ups: list[Upload]) -> dict[str, float]:
    """Driver-side decode throughput (MB/s) per container family, on the
    generated bytes of every grid uploaded."""
    from mini_project_204721_data_engineering_spark.sources.hdf5 import netcdf_grid_to_long

    nbytes = dict.fromkeys(("cdf1", "hdf5"), 0.0)
    secs = dict.fromkeys(("cdf1", "hdf5"), 0.0)
    for up in ups:
        for container, path in up.files:
            with open(path, "rb") as f:
                content = f.read()
            t = time.perf_counter()
            netcdf_grid_to_long(content)
            secs[container] += time.perf_counter() - t
            nbytes[container] += len(content)
    return {c: nbytes[c] / 1e6 / secs[c] if secs[c] else 0.0 for c in secs}


def cell_lookup_ms(st: State, reps: int = 3) -> float:
    """The static (lat, lon) -> district table one rain upload builds."""
    from mini_project_204721_data_engineering_spark.sources.geometry import build_cell_lookup

    lats, lons = G.grid_axes()
    t = time.perf_counter()
    for _ in range(reps):
        build_cell_lookup(st.spark, lats.tolist(), lons.tolist(), st.polygons)
    return (time.perf_counter() - t) * 1000 / reps


#: Spark work counts come from the traced ones among the window's first
#: uploads (every run has them, and only the writer changes the tables),
#: so a seed repeats them exactly
COUNTED_UPLOADS = 4


def layer_metrics(tracer, ops, first_start, mem, setup_spans, decode, lookup_ms, summary) -> dict:
    uploads = sorted((op for op in ops if "upload" in op.info), key=lambda op: op.info["upload"].upload_id)
    counted = [op for op in uploads[:COUNTED_UPLOADS] if op.traced]
    m = layers.zeroed()
    span_mean = lambda name, scale=1.0: C.mean([s.ms for s in tracer.named(name)]) * scale  # noqa: E731
    m["session.start_s"] = first_start
    m["mem.python_peak_rss_mb"], m["mem.jvm_heap_peak_mb"] = mem
    m["sources.shapefile.read_ms"] = setup_spans.get("sources.shapefile.read", 0.0)
    m["pipelines.dims.build_ms"] = setup_spans.get("pipelines.dims.build", 0.0)
    m["sources.netcdf3.decode_mb_per_s"] = decode.get("cdf1", 0.0)
    m["sources.hdf5.decode_mb_per_s"] = decode.get("hdf5", 0.0)
    m["sources.geometry.cell_lookup_ms"] = lookup_ms
    m["sources.netcdf.files_to_long_s"] = span_mean("sources.netcdf.files_to_long", 1e-3)
    m["sources.dbf.read_ms"] = span_mean("sources.dbf.read")
    m["sources.excel.read_ms"] = span_mean("sources.excel.read")
    m["pipelines.rain.build_s"] = span_mean("pipelines.rain.build", 1e-3)
    m["pipelines.risk.build_ms"] = span_mean("pipelines.risk.build")
    m["pipelines.incidents.build_ms"] = span_mean("pipelines.incidents.build")
    for t in ("rain", "risk", "incidents"):
        m[f"snapshots.{t}.append_s"] = span_mean(f"snapshots.{t}.append", 1e-3)
    m["snapshots.lookup_build_ms"] = span_mean("snapshots.lookup_build")
    m["snapshots.lookup_exec_ms"] = span_mean("snapshots.lookup_exec")
    m["pipelines.rain.build_jobs"] = C.mean(
        [op.info["upload"].build_jobs for op in counted if op.cls == "grid"]
    )
    plans = [op.info["plan"] for op in ops if "plan" in op.info]
    if plans:
        m["snapshots.files_in_table"] = plans[-1][1]
        m["snapshots.files_planned_per_lookup"] = C.mean([p for p, _ in plans])
        m["snapshots.prune_ratio"] = C.mean([p / t for p, t in plans if t])
    m["snapshots.rollup_jobs"] = C.mean([op.work["jobs"] for op in ops if op.kind == "rollup" and op.work])
    return layers.finish(m, tracer, ops, summary, counted)
