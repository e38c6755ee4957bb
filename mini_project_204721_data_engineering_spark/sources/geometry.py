"""Geometry support for the spatial join (J1) without geopandas/shapely.

The reference's one spatial operator is point-in-polygon between a
rainfall grid and 928 admin polygons (``gpd.sjoin(..., predicate=
"within")``, ``backend/app/utils.py:92-97``).  At any scale the polygon
side is broadcast-sized, so the Spark-native design is:

1. parse polygons (WKT) driver-side into plain coordinate rings,
2. precompute ``(lat, lon) → district`` once for the static grid by
   vectorized ray casting (:func:`build_cell_lookup`, SURVEY §4.3.1),
3. ship it to the decode tasks as a dense cell index
   (``pipelines.rain``): the spatial join becomes an array lookup.

Boundary semantics: ``within`` excludes points exactly on a polygon
boundary; ray casting is half-open and classifies such points
arbitrarily — the reference has the same edge-instability through
floating-point geometry, so we document rather than chase it.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

__all__ = [
    "parse_wkt_polygon",
    "parse_wkt_geometry",
    "parse_wkt_rings",
    "point_in_ring",
    "point_in_rings",
    "assign_district",
    "build_cell_lookup",
    "write_geojson",
    "read_geojson",
]


def _split_top(s: str) -> list[str]:
    """Split on commas at parenthesis depth 0."""
    out, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            out.append(s[start:i])
            start = i + 1
    out.append(s[start:])
    return out


def _parse_ring(txt: str) -> np.ndarray:
    pts = [
        (float(p[0]), float(p[1]))
        for p in (t.strip().split() for t in txt.split(",") if t.strip())
    ]
    return np.asarray(pts, dtype=np.float64)


def _parse_polygon_body(txt: str) -> list[np.ndarray]:
    """``((x y, ...), (x y, ...))`` → list of rings, outer first."""
    inner = txt.strip()[1:-1]
    return [_parse_ring(r.strip()[1:-1]) for r in _split_top(inner)]


def parse_wkt_geometry(wkt: str) -> list[list[np.ndarray]]:
    """WKT ``POLYGON``/``MULTIPOLYGON`` → list of parts, each a list of
    (n, 2) rings with the outer ring first and interior rings (holes)
    after — the full structure geopandas sees (the reference's ``within``
    is hole-aware, ``backend/app/utils.py:92-97``)."""
    s = wkt.strip()
    u = s.upper()
    try:
        body = s[s.index("(") : s.rindex(")") + 1]
    except ValueError:
        raise ValueError(f"not a WKT polygon: {wkt[:60]!r}") from None
    if u.startswith("MULTIPOLYGON"):
        return [_parse_polygon_body(p.strip()) for p in _split_top(body[1:-1])]
    if u.startswith("POLYGON"):
        return [_parse_polygon_body(body)]
    raise ValueError(f"not a WKT polygon: {wkt[:60]!r}")


def parse_wkt_rings(wkt: str) -> list[np.ndarray]:
    """Every ring of every part, flat — the even-odd point-in-polygon
    input: a point inside an odd number of rings is inside the geometry
    (holes cross two rings → even → out; a second outer part crosses one
    → odd → in), so one rule covers holes AND multi-part islands."""
    return [ring for part in parse_wkt_geometry(wkt) for ring in part]


def parse_wkt_polygon(wkt: str) -> np.ndarray:
    """First part's outer ring as an (n, 2) array (the pre-hole-support
    shape; prefer :func:`parse_wkt_rings` for containment tests)."""
    return parse_wkt_geometry(wkt)[0][0]


def point_in_ring(lons: np.ndarray, lats: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized ray casting: for arrays of points, True where inside."""
    x, y = lons, lats
    inside = np.zeros(len(x), dtype=bool)
    n = len(ring)
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        cond = (y1 > y) != (y2 > y)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (x2 - x1) * (y - y1) / (y2 - y1) + x1
        inside ^= cond & (x < xint)
    return inside


def point_in_rings(
    lons: np.ndarray, lats: np.ndarray, rings: Sequence[np.ndarray]
) -> np.ndarray:
    """Even-odd containment over ALL rings of a geometry: XOR of the
    per-ring ray-cast.  Makes holes correct for free (a point in a hole
    crosses the outer ring and the hole ring → even → out) and handles
    multi-part outers (inside exactly one part → odd → in) — matching
    geopandas ``within`` (reference ``backend/app/utils.py:92-97``)."""
    inside = np.zeros(len(lons), dtype=bool)
    for ring in rings:
        inside ^= point_in_ring(lons, lats, ring)
    return inside


def assign_district(
    lons: np.ndarray,
    lats: np.ndarray,
    polygons: Sequence[tuple[str, str, Sequence[np.ndarray]]],
) -> tuple[np.ndarray, np.ndarray]:
    """First-match district assignment for point arrays.

    ``polygons``: (province, district, rings) triples — ``rings`` is every
    ring of the geometry (all parts + holes, :func:`parse_wkt_rings`).
    Returns parallel object arrays (province, district) with None where no
    polygon matched.  A cheap bbox prefilter (over all parts; holes never
    widen it) skips geometries that can't contain the batch.
    """
    prov = np.full(len(lons), None, dtype=object)
    dist = np.full(len(lons), None, dtype=object)
    unassigned = np.ones(len(lons), dtype=bool)
    for p_name, d_name, rings in polygons:
        if not unassigned.any():
            break
        if isinstance(rings, np.ndarray):  # single pre-parsed ring
            rings = [rings]
        allpts = np.vstack(rings)
        lo_x, lo_y = allpts.min(axis=0)
        hi_x, hi_y = allpts.max(axis=0)
        cand = unassigned & (lons >= lo_x) & (lons <= hi_x) & (lats >= lo_y) & (lats <= hi_y)
        if not cand.any():
            continue
        idx = np.flatnonzero(cand)
        hit = point_in_rings(lons[idx], lats[idx], rings)
        hit_idx = idx[hit]
        prov[hit_idx] = p_name
        dist[hit_idx] = d_name
        unassigned[hit_idx] = False
    return prov, dist


def build_cell_lookup(
    spark: SparkSession,
    lats: Sequence[float],
    lons: Sequence[float],
    polygons_df: pd.DataFrame,
) -> pd.DataFrame:
    """Precompute the (lat, lon) → district table of a static grid once,
    driver-side (grid-cells × polygons is small: the distinct coordinate
    sets are tiny regardless of how many days of data flow through).
    ``pipelines.rain`` turns it into the dense cell index its decode
    tasks carry, so J1 is an array lookup; ``spark`` is not used.  Cells
    in no polygon are left out."""
    la = np.asarray(sorted({float(v) for v in lats}))
    lo = np.asarray(sorted({float(v) for v in lons}))
    gx, gy = np.meshgrid(lo, la)
    flat_x, flat_y = gx.ravel(), gy.ravel()
    polys = [
        (r["province"], r["district"], parse_wkt_rings(r["wkt"]))
        for _, r in polygons_df.iterrows()
    ]
    prov, dist = assign_district(flat_x, flat_y, polys)
    keep = np.array([d is not None for d in dist], dtype=bool)
    return pd.DataFrame(
        {
            "lat": flat_y[keep],
            "lon": flat_x[keep],
            "province": prov[keep],
            "district": dist[keep],
        }
    )


def write_geojson(polygons_df: pd.DataFrame, path: str) -> int:
    """S10 GeoJSON sink (reference ``gdf.to_file(..., driver="GeoJSON")``,
    ``backend/app/utils.py:204-211``): write (province, district, wkt)
    rows as a FeatureCollection.  Driver-side by design — the polygon dim
    is ~10³ rows regardless of fact scale; a distributed writer would be
    928 one-feature files.  Returns the feature count."""
    import json

    feats = []
    for _, r in polygons_df.iterrows():
        parts = parse_wkt_geometry(r["wkt"])

        def coords(part: list[np.ndarray]) -> list:
            return [[[float(x), float(y)] for x, y in ring] for ring in part]

        geometry = (
            {"type": "Polygon", "coordinates": coords(parts[0])}
            if len(parts) == 1
            else {"type": "MultiPolygon", "coordinates": [coords(p) for p in parts]}
        )
        feats.append(
            {
                "type": "Feature",
                "properties": {
                    "province": r["province"],
                    "district": r["district"],
                },
                "geometry": geometry,
            }
        )
    with open(path, "w", encoding="utf-8") as fh:
        json.dump({"type": "FeatureCollection", "features": feats}, fh, ensure_ascii=False)
    return len(feats)


def read_geojson(path: str) -> pd.DataFrame:
    """Inverse of :func:`write_geojson` — the reference's generated
    ``north_provinces_districts.geojson`` (consumed at
    ``frontend/app/page.tsx:152-211``) back into the engine's polygon
    frame ``(province, district, wkt)``, ready for
    :func:`assign_points_udf` / :func:`build_cell_lookup`.  Every ring is
    preserved (holes stay holes); MultiPolygon features contribute one
    row per part (same first-match semantics as the reference's
    row-per-geometry GeoDataFrame).  GeoJSON positions may carry a third
    (elevation) element — only x, y are read.  Driver-side by design: the
    boundary file is dimension-sized at any fact scale."""
    import json

    with open(path, encoding="utf-8") as fh:
        fc = json.load(fh)
    rows = []
    for feat in fc.get("features", []):
        props = feat.get("properties", {})
        geom = feat.get("geometry", {})
        gtype = geom.get("type")
        if gtype == "Polygon":
            polys = [geom["coordinates"]]
        elif gtype == "MultiPolygon":
            polys = geom["coordinates"]
        else:
            continue
        for rings in polys:
            wkt = (
                "POLYGON ("
                + ", ".join(
                    "("
                    + ", ".join(f"{x:.10g} {y:.10g}" for x, y in (p[:2] for p in ring))
                    + ")"
                    for ring in rings
                )
                + ")"
            )
            rows.append(
                {
                    "province": props.get("province"),
                    "district": props.get("district"),
                    "wkt": wkt,
                }
            )
    return pd.DataFrame(rows, columns=["province", "district", "wkt"])
