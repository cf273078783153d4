"""Sidepath name transfer on count ties: the Spark writeback
(`operators/pipeline.sidepath_aggregates`) must pick the name the pandas
kernel (`kernel/sidepath.apply_sidepath`) picks.  The kernel takes the
first name reaching the top count in the order it meets candidates: the
lowest check point first, then road input order.  A NULL name competes
like any other, and when it wins no name is transferred.

Hand-built ways, no reference data: three cycleways, each beside two
residential roads whose names reach it at two check points apiece.
"""

import math

import numpy as np
import pandas as pd
import pytest

from cqi_engine import config as C

_LON0, _LAT0 = 13.0, 52.0
_M_PER_DEG_LAT = 111_320.0
_M_PER_DEG_LON = _M_PER_DEG_LAT * math.cos(math.radians(_LAT0))


def _line(x0, x1, y):
    """Flat interleaved lon, lat of a west-east line, metres from origin."""
    return [v for x in (x0, x1)
            for v in (_LON0 + x / _M_PER_DEG_LON, _LAT0 + y / _M_PER_DEG_LAT)]


def _way(way_id, highway, name, x0, x1, y):
    return {"id": way_id, "highway": highway, "name": name,
            "geom_lonlat": _line(x0, x1, y)}


# Check points fall every 100 m along each cycleway, plus its end vertex:
# 0, 100, 200, 250 on the 250 m ones.
WAYS = [
    # pt_seq decides: "Alpha" comes first in input but reaches only the
    # last two check points; "Zeta" reaches the first two
    _way("r_alpha", "residential", "Alpha", 180, 320, 10),
    _way("r_zeta", "residential", "Zeta", -20, 120, 10),
    _way("p_first_point", "cycleway", None, 0, 250, 0),
    # same check points: road input order decides ("Ypsilon" first)
    _way("r_ypsilon", "residential", "Ypsilon", -20, 120, 1010),
    _way("r_beta", "residential", "Beta", -20, 120, 990),
    _way("p_input_order", "cycleway", None, 0, 100, 1000),
    # the nameless road is met first, so the path keeps its own name
    _way("r_nameless", "residential", None, -20, 120, 2010),
    _way("r_gamma", "residential", "Gamma", 180, 320, 2010),
    _way("p_null_first", "cycleway", "Own", 0, 250, 2000),
]
WANT_NAMES = {"p_first_point": "Zeta", "p_input_order": "Ypsilon",
              "p_null_first": "Own"}


def _ways_pdf() -> pd.DataFrame:
    cols = [c for c in C.TAG_WHITELIST if c != "id"]
    rows = [{**{c: None for c in cols}, **w} for w in WAYS]
    return pd.DataFrame(rows, columns=["id", *cols, "geom_lonlat"])


def _kernel_rows(pdf: pd.DataFrame) -> list[tuple]:
    from cqi_engine.geometry import lonlat_to_metric
    from cqi_engine.kernel.pipeline import final_projection, score_ways
    from cqi_engine.sources.webways import digest_rows_pdf

    pdf = pdf.copy()
    pdf["geom_lonlat"] = [np.asarray(g).reshape(-1, 2)
                          for g in pdf["geom_lonlat"]]
    pdf["geom_metric"] = [np.column_stack(lonlat_to_metric(g[:, 0], g[:, 1]))
                          for g in pdf["geom_lonlat"]]
    return sorted(map(tuple, digest_rows_pdf(
        final_projection(score_ways(pdf))).itertuples(index=False)))


@pytest.fixture(scope="module")
def spark_scored(spark):
    from pyspark.sql import types as T

    from cqi_engine.operators.pipeline import score_way_table

    pdf = _ways_pdf()
    schema = T.StructType(
        [T.StructField(c, T.StringType()) for c in pdf.columns[:-1]]
        + [T.StructField("geom_lonlat", T.ArrayType(T.DoubleType()))])
    # one partition keeps the dictionary ids in input order
    ways = spark.createDataFrame(pdf, schema).coalesce(1)
    return score_way_table(ways).toPandas()


def test_tied_names_pick_the_kernels_choice(spark_scored):
    paths = spark_scored[spark_scored["id"].isin(list(WANT_NAMES))]
    got = dict(zip(paths["id"], paths["name"]))
    assert got == WANT_NAMES


def test_tied_names_rows_match_kernel(spark_scored):
    from cqi_engine.sources.webways import digest_rows_pdf

    got = sorted(map(tuple, digest_rows_pdf(spark_scored)
                     .itertuples(index=False)))
    assert got == _kernel_rows(_ways_pdf())
