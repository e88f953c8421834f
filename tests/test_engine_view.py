"""ArrowClusterEngine's per-generation cluster view, on a small in-memory
fixture: reads equal the per-call formulation they replaced, the view is
dropped by exactly the calls that change the hierarchy, and the
expansion-zoom aggregate keeps the reference walk's edge cases."""

import random
from collections import Counter

import pytest
from pyspark.sql import functions as F

from arrow_supercluster_spark.config import ClusterOptions
from arrow_supercluster_spark.engine import ArrowClusterEngine
from arrow_supercluster_spark.operators import grid_cluster as gc
from arrow_supercluster_spark.operators.filters import bbox_predicate

OPTS = ClusterOptions()
WORLD = (-180.0, -85.0, 180.0, 85.0)
ANTIMERIDIAN = (170.0, -40.0, -170.0, 10.0)
SCHEMA = "id long, lng double, lat double"
PAIR = (-40.0, -60.0)  # two co-located points, far from everything else


def _rows(seed: int, n_uniform: int, id0: int = 0):
    """Hotspots (one straddling the antimeridian), uniform points, the
    co-located pair and a null-geometry row."""
    rnd = random.Random(seed)
    pts = []
    for lng, lat in [(2.35, 48.85), (139.7, 35.7), (-74.0, 40.7), (179.9, -17.0)]:
        for _ in range(60):
            x = lng + rnd.gauss(0, 0.3)
            pts.append((((x + 180.0) % 360.0) - 180.0, lat + rnd.gauss(0, 0.3)))
    for _ in range(n_uniform):
        pts.append((rnd.uniform(-180, 180), rnd.uniform(-30, 80)))
    pts += [PAIR, PAIR, (None, None)]
    return [(id0 + i, lng, lat) for i, (lng, lat) in enumerate(pts)]


def _load(spark, tmp_path, rows, opts=OPTS, name="wd"):
    eng = ArrowClusterEngine(spark, opts, workdir=str(tmp_path / name))
    return eng.load(spark.createDataFrame(rows, SCHEMA))


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    return _load(spark, tmp_path_factory.mktemp("view"), _rows(1, 100))


def _same_rows(a, b):
    """a.exceptAll(b) and b.exceptAll(a) are both empty, checked as equal
    multisets of collected rows: one job per side instead of a shuffle per
    direction over re-run reads."""
    assert a.columns == b.columns
    rows = Counter(a.collect())
    assert rows == Counter(b.collect())
    return sum(rows.values())


def _union(frames):
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _multi_point_nodes(eng, zooms, per_zoom):
    rows = (
        eng._require()
        .filter(F.col("zoom").isin(list(zooms)) & (F.col("num_points") > 1))
        .select("zoom", "cell_x", "cell_y")
        .orderBy("zoom", "cell_x", "cell_y")
        .collect()
    )
    picked = {}
    for r in rows:
        picked.setdefault(r["zoom"], [])
        if len(picked[r["zoom"]]) < per_zoom:
            picked[r["zoom"]].append(tuple(r))
    return [n for z in sorted(picked) for n in picked[z]]


# -- reads equal the per-call formulation ------------------------------------

def _per_call_clusters(eng, bbox, zoom):
    nodes = eng._require().filter(F.col("zoom") == eng._limit_zoom(zoom))
    return gc.finalize_clusters(nodes, eng.opts).filter(bbox_predicate(*bbox))


def _per_call_children(eng, zoom, cx, cy):
    nodes = eng._require().filter(F.col("zoom") == zoom + 1)
    return gc.finalize_clusters(
        nodes.filter(
            (F.floor(F.col("cell_x") / 2) == cx) & (F.floor(F.col("cell_y") / 2) == cy)
        ),
        eng.opts,
    )


def _per_call_descendants(eng, zoom, cx, cy, max_depth_zoom):
    nodes = eng._require().filter(
        (F.col("zoom") > zoom) & (F.col("zoom") <= max_depth_zoom)
    )
    shift = F.pow(F.lit(2.0), F.col("zoom") - zoom)
    return nodes.filter(
        (F.floor(F.col("cell_x") / shift) == cx)
        & (F.floor(F.col("cell_y") / shift) == cy)
    )


@pytest.mark.parametrize("bbox", [WORLD, ANTIMERIDIAN], ids=["world", "antimeridian"])
def test_get_clusters_equals_per_call_plan(engine, bbox):
    zooms = list(range(OPTS.min_zoom, OPTS.leaf_zoom + 1)) + [OPTS.leaf_zoom + 5]
    got = _union([engine.get_clusters(bbox, z) for z in zooms])
    want = _union([_per_call_clusters(engine, bbox, z) for z in zooms])
    assert _same_rows(got, want) > len(zooms)


def test_get_children_equals_per_call_plan(engine):
    nodes = _multi_point_nodes(engine, range(OPTS.max_zoom + 1), 2)
    nodes.append((3, 10**6, 10**6))  # no such node: no children
    got = _union([engine.get_children(*n) for n in nodes])
    want = _union([_per_call_children(engine, *n) for n in nodes])
    assert _same_rows(got, want) >= len(nodes) - 1


def test_get_descendants_equals_per_call_plan(engine):
    nodes = _multi_point_nodes(engine, [0, 3, 7, 11, 15], 2)
    cases = [(*n, OPTS.leaf_zoom) for n in nodes] + [(*nodes[0], 5)]
    got = _union([engine.get_descendants(*c) for c in cases])
    want = _union([_per_call_descendants(engine, *c) for c in cases])
    assert _same_rows(got, want) > 0


# -- expansion zoom ------------------------------------------------------------

def _walk_expansion_zoom(nodes, zoom, cx, cy, max_zoom):
    """The reference walk (arrow-cluster-engine.ts:240-256) over collected
    node rows: follow the single child until a node splits."""
    z = zoom
    cells = {(cx, cy)}
    while z <= max_zoom:
        z += 1
        cells = {c for c in nodes.get(z, ()) if (c[0] >> 1, c[1] >> 1) in cells}
        if len(cells) != 1:
            return z
    return z


def test_expansion_zoom_matches_walk(engine):
    by_zoom = {}
    for r in engine._require().select("zoom", "cell_x", "cell_y").collect():
        by_zoom.setdefault(r["zoom"], set()).add((r["cell_x"], r["cell_y"]))
    for n in _multi_point_nodes(engine, [0, 4, 8, 12, 16], 2):
        want = _walk_expansion_zoom(by_zoom, *n, OPTS.max_zoom)
        assert engine.get_cluster_expansion_zoom(*n) == want, n


def test_expansion_zoom_missing_anchor(engine):
    assert engine.get_cluster_expansion_zoom(3, 10**6, 10**6) == 4
    assert engine.get_cluster_expansion_zoom(OPTS.max_zoom, -1, -1) == OPTS.leaf_zoom


def test_expansion_zoom_single_chain_to_leaf(engine):
    """The co-located pair is a 2-point node that never splits, so the
    walk runs past max_zoom."""
    pair = (
        engine.get_clusters((PAIR[0] - 1, PAIR[1] - 1, PAIR[0] + 1, PAIR[1] + 1), 8)
        .collect()
    )
    assert len(pair) == 1 and pair[0]["num_points"] == 2
    ez = engine.get_cluster_expansion_zoom(8, pair[0]["cell_x"], pair[0]["cell_y"])
    assert ez == OPTS.max_zoom + 1


# -- invalidation ------------------------------------------------------------

def _world_count(eng, zoom):
    return eng.get_clusters(WORLD, zoom).agg(F.sum("num_points")).collect()[0][0]


def test_append_drops_the_view(spark, tmp_path):
    base = _rows(2, 40)
    eng = _load(spark, tmp_path, base)
    n0 = len(base) - 1  # minus the null-geometry row
    assert _world_count(eng, 0) == n0
    # (0, 3, 2) is the zoom-0 cell of the (2.35, 48.85) hotspot
    before = eng.get_children(0, 3, 2).agg(F.sum("num_points")).collect()[0][0]
    extra = _rows(3, 20, id0=10_000)
    eng.append(spark.createDataFrame(extra, SCHEMA))
    n1 = n0 + len(extra) - 1
    assert eng.indexed_point_count == n1
    for z in (0, 9, OPTS.leaf_zoom):
        assert _world_count(eng, z) == n1
    kids = eng.get_children(0, 3, 2)
    assert kids.agg(F.sum("num_points")).collect()[0][0] > before
    _same_rows(kids, _per_call_children(eng, 0, 3, 2))


def test_reload_same_workdir_and_unload(spark, tmp_path):
    """A second load overwrites the hierarchy directory; a view planned
    over the first table's file listing would read deleted files."""
    eng = _load(spark, tmp_path, _rows(4, 80))
    assert _world_count(eng, 5) == len(_rows(4, 80)) - 1
    rows_b = _rows(5, 10)
    eng.load(spark.createDataFrame(rows_b, SCHEMA))
    fresh = _load(spark, tmp_path, rows_b, name="fresh")
    key = ["zoom", "cell_x", "cell_y", "num_points"]
    for z in (0, 5, OPTS.leaf_zoom):
        _same_rows(
            eng.get_clusters(WORLD, z).select(key),
            fresh.get_clusters(WORLD, z).select(key),
        )
    eng.unload()
    with pytest.raises(RuntimeError, match="load"):
        eng.get_clusters(WORLD, 0)
    with pytest.raises(RuntimeError, match="load"):
        eng.get_children(0, 0, 0)


def test_min_points_above_two_raises_at_query(spark, tmp_path):
    eng = _load(spark, tmp_path, _rows(6, 10), opts=ClusterOptions(min_points=3))
    assert eng.indexed_point_count == len(_rows(6, 10)) - 1
    with pytest.raises(ValueError, match="min_points"):
        eng.get_clusters(WORLD, 0)
    with pytest.raises(ValueError, match="min_points"):
        eng.get_children(0, 0, 0)
