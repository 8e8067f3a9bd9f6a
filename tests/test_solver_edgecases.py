"""Edge cases from the r3 solver review: batch-composition independence,
drift safety on padded slots, radius-only semantics, validation parity."""

from __future__ import annotations

import numpy as np
import pytest

from geostatssolvers_jl_spark.distances import Haversine
from geostatssolvers_jl_spark.operators.idw import (
    solve_idw, solve_idw_compositional,
)
from geostatssolvers_jl_spark.operators.kriging import (
    KrigingModel, solve_kriging,
)
from geostatssolvers_jl_spark.operators.lwr import solve_lwr
from geostatssolvers_jl_spark.variogram import GaussianVariogram


@pytest.fixture(scope="module")
def small(spark):
    rng = np.random.default_rng(7)
    nd = 60
    d = spark.createDataFrame(
        [(int(i), float(x), float(y), float(v)) for i, (x, y, v) in
         enumerate(zip(rng.uniform(0, 40, nd), rng.uniform(0, 40, nd),
                       rng.normal(5, 2, nd)))],
        "data_id long, lon double, lat double, z double",
    )
    q = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(zip(
            rng.uniform(2, 38, 25), rng.uniform(2, 38, 25)))],
        "cell_id long, cx double, cy double",
    )
    return d, q


def _rows(df):
    return {
        r[0]: tuple(
            None if v is None or (isinstance(v, float) and np.isnan(v))
            else round(v, 12) if isinstance(v, float) else v
            for v in r[1:]
        )
        for r in df.collect()
    }


def test_lwr_singular_row_does_not_perturb_batchmates(spark, small):
    """One under-determined query (radius cut -> < p neighbors) must NOT
    change its batch-mates' results: the old batch-wide pinv fallback made
    every query's output depend on batch composition."""
    d, q = small
    # an isolated far-away query: its ball holds < 3 neighbors
    iso = spark.createDataFrame(
        [(999, 400.0, 400.0)], "cell_id long, cx double, cy double"
    )
    kw = dict(
        var="z", data_coord_cols=["lon", "lat"],
        query_coord_cols=["cx", "cy"], maxneighbors=6, radius=8.0,
        minneighbors=1,
    )
    base = _rows(solve_lwr(d, q, **kw))
    mixed = _rows(solve_lwr(d, q.union(iso).repartition(1), **kw))
    for cid, vals in base.items():
        assert mixed[cid] == vals, cid


def test_kriging_edk_drift_safe_on_padded_slots(spark, small):
    """A user drift non-finite at the pad placeholder coords (log) must not
    leak NaN into queries that HAVE enough neighbors — tiled pads with
    (0, 0), where log raises -inf."""
    d, q = small
    kw = dict(
        var="z",
        model=KrigingModel(
            variogram=GaussianVariogram(range=2000.0, sill=4.0),
            # UNCLAMPED log: at the tiled pad placeholder (0, 0) this is
            # -inf, so a regression from the where-mask back to Fm*vmask
            # (-inf * 0 = NaN) actually poisons the batch and fails here
            drifts=[lambda c: np.log(c[..., 0])],
        ),
        data_coord_cols=["lon", "lat"], query_coord_cols=["cx", "cy"],
        maxneighbors=5, radius=900.0, metric=Haversine(6371.0),
        minneighbors=1,
    )
    a = _rows(solve_kriging(d, q, strategy="local-broadcast", **kw))
    b = _rows(solve_kriging(d, q, strategy="local-tiled", tile_res=4, **kw))
    assert a == b
    assert all(v[0] is not None for v in a.values())


def test_kriging_radius_only_routes_ball_search(spark, small):
    """radius with maxneighbors=None must mean a MetricBall neighborhood
    (KBallSearch, k = n), not the global all-data fit that ignores the
    ball — matching solve_idw/solve_lwr semantics."""
    d, q = small
    kw = dict(
        var="z",
        model=KrigingModel(variogram=GaussianVariogram(range=20.0)),
        data_coord_cols=["lon", "lat"], query_coord_cols=["cx", "cy"],
        minneighbors=1,
    )
    a = _rows(solve_kriging(d, q, radius=9.0, maxneighbors=None, **kw))
    b = _rows(solve_kriging(d, q, radius=9.0, maxneighbors=60, **kw))
    assert a == b


def test_minneighbors_validation(spark, small):
    d, q = small
    with pytest.raises(ValueError, match="minneighbors"):
        solve_idw(d, q, var="z", data_coord_cols=["lon", "lat"],
                  query_coord_cols=["cx", "cy"], maxneighbors=3,
                  minneighbors=0)
    with pytest.raises(ValueError, match="minneighbors"):
        solve_kriging(d, q, var="z", data_coord_cols=["lon", "lat"],
                      query_coord_cols=["cx", "cy"], maxneighbors=3,
                      minneighbors=0)
    with pytest.raises(ValueError, match="minneighbors"):
        solve_lwr(d, q, var="z", data_coord_cols=["lon", "lat"],
                  query_coord_cols=["cx", "cy"], maxneighbors=3,
                  minneighbors=-1)


def test_broadcast_gather_3d_exact_at_data(spark):
    """3-D (x, y, t) Euclidean data through the broadcast path: the
    gathered neighbour coords are (B, k, 3), and a query placed on a datum
    returns that datum — exactly for IDW (zero-distance rule), for
    kriging up to the 1e-10·sill diagonal regularisation, with variance
    0 to the same order."""
    rng = np.random.default_rng(11)
    n = 60
    X = rng.uniform(0.0, 10.0, (n, 3))
    z = rng.normal(5.0, 2.0, n)
    d = spark.createDataFrame(
        [(i, *map(float, X[i]), float(z[i])) for i in range(n)],
        "data_id long, x double, y double, t double, z double",
    )
    on = list(range(0, n, 3))
    q = spark.createDataFrame(
        [(i, *map(float, X[i])) for i in on],
        "cell_id long, cx double, cy double, ct double",
    )
    kw = dict(var="z", data_coord_cols=["x", "y", "t"],
              query_coord_cols=["cx", "cy", "ct"], maxneighbors=6,
              strategy="local-broadcast")
    got = _rows(solve_idw(d, q, **kw))
    assert sorted(got) == on
    for i, (mu, dist) in got.items():
        assert mu == round(z[i], 12) and dist == 0.0, i
    model = KrigingModel(variogram=GaussianVariogram(range=4.0, sill=4.0))
    got = _rows(solve_kriging(d, q, model=model, **kw))
    assert sorted(got) == on
    for i, (mu, var) in got.items():
        assert mu == pytest.approx(z[i], abs=1e-8), i
        assert var == pytest.approx(0.0, abs=1e-8), i


def test_tiled_rejects_higher_dimensional_coords(spark, small):
    """3-D data through the tiled strategy must raise (the tiling is 2-D;
    silently dropping the third axis gave wrong neighbors)."""
    from geostatssolvers_jl_spark.operators.tiled import tiled_local_apply

    d, q = small
    d3 = d.selectExpr("data_id", "lon", "lat", "z AS t", "z")
    with pytest.raises(ValueError, match="2-D"):
        tiled_local_apply(
            q, d3, ["cx", "cy"], ["lon", "lat", "t"], ["z"], 3,
            lambda *a: None, "cell_id long, z double",
        )


def test_compositional_empty_data_raises(spark):
    data = spark.createDataFrame(
        [], "data_id long, x double, y double, z array<double>"
    )
    q = spark.createDataFrame(
        [(0, 1.0, 1.0)], "cell_id long, cx double, cy double"
    )
    with pytest.raises(Exception, match="estimation requires data"):
        solve_idw_compositional(
            data, q, maxneighbors=2, strategy="local-broadcast",
            data_coord_cols=["x", "y"], query_coord_cols=["cx", "cy"],
        )


def test_compositional_minneighbors_validation(spark):
    """Both compositional strategies share the neighbor-count guards (r3
    advice: the broadcast path silently accepted minneighbors=0 and
    min > max)."""
    from geostatssolvers_jl_spark.operators.idw import solve_idw_compositional

    data = spark.createDataFrame(
        [(0, 0.0, 0.0, [0.5, 0.5]), (1, 10.0, 0.0, [0.2, 0.8]),
         (2, 0.0, 10.0, [0.7, 0.3])],
        "data_id long, x double, y double, z array<double>",
    )
    q = spark.createDataFrame([(0, 5.0, 5.0)], "cell_id long, cx double, cy double")
    kw = dict(var="z", data_coord_cols=["x", "y"], query_coord_cols=["cx", "cy"])
    with pytest.raises(ValueError, match="minneighbors"):
        solve_idw_compositional(data, q, maxneighbors=2, minneighbors=0, **kw)
    with pytest.raises(ValueError, match="min/max"):
        solve_idw_compositional(data, q, maxneighbors=2, minneighbors=3, **kw)
    with pytest.raises(ValueError, match="minneighbors"):
        solve_idw_compositional(data, q, maxneighbors=None, minneighbors=0, **kw)
