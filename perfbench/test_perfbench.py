"""Tests of the benchmark's own parts; no Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import fixture_stats  # noqa: E402
import gen  # noqa: E402
from probes import metric_value  # noqa: E402

SMALL = gen.Sizes(orders=1_500, events=1_000, documents=100, embeddings=50)


@pytest.fixture(scope="module")
def oracle(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("input"))
    gen.write(5, SMALL, d)
    o = checks.Oracle(d, list(gen.tables(5, SMALL)))
    yield o
    o.close()


def _oracle_sql(name: str) -> str:
    from apachebeam_python_spark.queries import ORACLES

    return ORACLES[name]


def test_generator_is_a_function_of_the_seed():
    a, b, c = gen.tables(3, SMALL), gen.tables(3, SMALL), gen.tables(4, SMALL)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 4 * SMALL.orders


def test_generator_reproduces_the_fixture_statistics(tmp_path):
    want = fixture_stats.FIXTURE["sf0.1"]
    gen.write(7, gen.Sizes(orders=15_000, events=10_000, documents=5_000, embeddings=2_000),
              str(tmp_path))
    got = fixture_stats.stats(str(tmp_path))
    for k in ("vocabulary", "words_min", "words_max", "dup_suffixed", "labels",
              "users_per_event"):
        assert got[k] == want[k], k
    for k, tol in (("words_mean", 0.02), ("lang_en", 0.08), ("embedding_norm", 1e-3),
                   ("embedding_std", 1e-2), ("extprice_mean", 0.01)):
        assert got[k] == pytest.approx(want[k], rel=tol), k
    assert 0 < got["exact_copies"] < 3 * want["exact_copies"]
    assert 900 <= got["extprice_min"] < 901 and 104_999 < got["extprice_max"] <= 105_000


@pytest.mark.parametrize("name", ["q_pricing_summary", "q_ivm_join", "q_setsim_join", "q_session_window"])
def test_check_accepts_the_oracle_and_rejects_one_altered_row(oracle, name):
    res = oracle.con.execute(_oracle_sql(name))
    cols = [d[0] for d in res.description]
    rows = [list(r) for r in res.fetchall()]
    assert rows, f"{name} is empty on the generated input"
    want = oracle.rows(_oracle_sql(name))
    assert checks.diff(name, checks.canon(cols, rows), want) is None

    altered = [list(r) for r in rows]
    i = next(j for j, v in enumerate(altered[0]) if isinstance(v, (int, float)) and not isinstance(v, bool))
    altered[0][i] = altered[0][i] + 1
    assert checks.diff(name, checks.canon(cols, altered), want) is not None
    assert checks.diff(name, checks.canon(cols, rows[1:]), want) is not None


def test_check_is_order_insensitive():
    cols = ["b", "a"]
    rows = [(1, "x"), (2, "y")]
    assert checks.diff("q", checks.canon(cols, rows[::-1]), checks.canon(["a", "b"], [("y", 2), ("x", 1)])) is None


@pytest.mark.parametrize("text, value", [
    ("2.1 s", 2.1), ("706 ms", 0.706), ("32.0 MiB", 32.0), ("976.0 B", 976 / 2**20),
    ("47", 47.0), ("1,234", 1234.0), ("total (min, med, max (stageId: taskId))\n3.0 s (0 ms, 1 ms)", 3.0),
    (None, 0.0),
])
def test_metric_value_parses_sql_metric_strings(text, value):
    assert metric_value(text) == pytest.approx(value)
