"""``scoring.round_score`` is Spark's ``F.round(x, 6)`` bit for bit: on
constructed decimal ties (where ``np.round`` rounds half to even on the
binary value and Spark rounds HALF_UP on the decimal form), on random
floats across magnitudes and signs, and on real phrase-kernel scores."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from go_mysql_elasticsearch_spark.index.build import build_index
from go_mysql_elasticsearch_spark.index.reader import IndexReader
from go_mysql_elasticsearch_spark.query import phrase as P
from go_mysql_elasticsearch_spark.query.scoring import ROUND_DIGITS, round_score
from go_mysql_elasticsearch_spark.query.wand import term_ids

from .conftest import SF_SMALL

SPECIALS = [0.0, -0.0, 1e-9, -1e-9, 5e-7, -5e-7, 4.9999999e-7, 5e-324, 1e300, -1e300,
            5e9 + 0.1234567, 2.0 ** 53, 1.0000005, 2.0000025, 0.1234565, np.inf, -np.inf, np.nan]


def _spark_round(spark, values: np.ndarray) -> np.ndarray:
    pdf = pd.DataFrame({"i": np.arange(values.size, dtype=np.int64), "x": values})
    out = (spark.createDataFrame(pdf, "i long, x double")
           .select("i", F.round("x", ROUND_DIGITS).alias("r")).toPandas())
    return out.sort_values("i")["r"].to_numpy(dtype=np.float64)


def _assert_bit_equal(got: np.ndarray, want: np.ndarray) -> None:
    nan = np.isnan(want)
    assert (np.isnan(got) == nan).all()
    bad = np.flatnonzero(got[~nan].view(np.int64) != want[~nan].view(np.int64))
    assert bad.size == 0, list(zip(got[~nan][bad[:5]], want[~nan][bad[:5]]))


def _ties(rng, n: int) -> np.ndarray:
    """``a.bbbbbb5``: exactly half a unit in the 6th decimal as written."""
    a, b = rng.integers(0, 60, n), rng.integers(0, 10 ** 6, n)
    vals = np.array([float(f"{x}.{y:06d}5") for x, y in zip(a, b)])
    vals[: n // 100] *= -1  # HALF_UP rounds away from zero on both sides
    return vals


def test_round_score_matches_spark_on_ties_and_random_floats(spark):
    rng = np.random.default_rng(20261018)
    ties = _ties(rng, 20_000)
    rand = 10.0 ** rng.uniform(-9, 4, 20_000) * rng.choice([-1.0, 1.0], 20_000)
    values = np.concatenate([ties, rand, np.array(SPECIALS)])
    want = _spark_round(spark, values)
    _assert_bit_equal(round_score(values), want)
    # the fixture is adversarial: half-to-even on the binary value gets
    # a large share of the ties wrong
    assert (np.round(ties, ROUND_DIGITS) != want[: ties.size]).sum() > ties.size // 10
    # the scalar form agrees with the array form
    assert [round_score(float(v)) for v in ties[:200]] == list(want[:200])


@pytest.fixture(scope="module")
def kernel_scores(spark, tmp_path_factory):
    """Raw phrase-kernel scores (unrounded) for the 40 most frequent
    words and a few two-word phrases, from a driver route."""
    idx = str(tmp_path_factory.mktemp("roundidx") / "i")
    build_index(spark, spark.read.parquet(f"{SF_SMALL}/documents.parquet"), idx,
                n_segments=2, n_shards=2)
    r = IndexReader(spark, idx)
    words = [x["term"] for x in r.term_strings().orderBy(F.desc("df"), F.asc("term")).limit(40)
             .collect()]
    r.df_lookup(list(term_ids(spark, words).values()))
    chains = [[w] for w in words] + [words[i:i + 2] for i in range(0, 20, 2)]
    raws = [P._positional_hits(spark, r, c, c, strategy="driver")["raw"].to_numpy() for c in chains]
    return np.concatenate(raws)


def test_round_score_matches_spark_on_kernel_scores(spark, kernel_scores):
    assert kernel_scores.size > 1000
    _assert_bit_equal(round_score(kernel_scores), _spark_round(spark, kernel_scores))
