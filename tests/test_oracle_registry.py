"""Full-registry oracle gate as pytest (VERDICT r2 #6): the driver's
correctness check caps at 50 queries — this marker-gated module runs the
ENTIRE queries()/oracle_sql() registry against DuckDB at sf0.01 so local
CI, not discipline, guarantees the tail.

Run with:  python -m pytest -m oracle tests/test_oracle_registry.py
(excluded from the default run by pytest.ini addopts — it re-executes all
~144 queries, ~2-3 min).
"""

from __future__ import annotations

import pytest

from tools.verify_local import duck_connection, normalize, compare  # noqa: E402

from riptable_spark.queries import ORACLES, QUERIES, load_all

load_all()

pytestmark = pytest.mark.oracle

SF_DIR = "/root/testdata/sf0.01"

# Queries allowed to lack a SQL oracle (genuinely non-SQL-expressible:
# custom stateful streaming, iterative fixpoints). Currently EMPTY — all
# registered queries are oracle-checked; adding a query without an oracle
# fails test_every_query_has_an_oracle unless it is listed here with a
# justification.
NO_ORACLE_EXEMPT: set[str] = set()
# (Round 4 emptied this: the nine former rows-only recurrences —
# fifo/wac/lob, holt/holt-winters/croston, elo/dtw/viterbi — now have
# exact replays: recursive-CTE integer or IEEE-identical float state
# machines, interval-overlap FIFO identity, unrolled integer DP.)


def test_registry_fully_oracled():
    assert len(QUERIES) == len(ORACLES), (
        f"{len(QUERIES)} queries vs {len(ORACLES)} oracles: "
        f"missing {sorted(set(QUERIES) - set(ORACLES))}"
    )


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_DIR)
    yield con
    con.close()


def test_every_query_has_an_oracle():
    missing = set(QUERIES) - set(ORACLES) - NO_ORACLE_EXEMPT
    assert not missing, (
        f"queries registered without an oracle_sql entry: {sorted(missing)} — "
        "add the oracle or add to NO_ORACLE_EXEMPT with a justification"
    )


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, duck):
    if name not in ORACLES:
        n = QUERIES[name](spark, SF_DIR).count()
        assert n >= 0  # rows-only check for exempted queries
        return
    sdf = QUERIES[name](spark, SF_DIR).toPandas()
    odf = duck.execute(ORACLES[name]).fetchdf()
    ok, msg = compare(normalize(sdf), normalize(odf))
    assert ok, f"{name}: {msg}"


def test_registry_order_snapshot():
    """The driver walks queries() in insertion order and capped harnesses
    see a prefix — mechanical file reorganizations (like the round-4
    queries14 three-way split) must NOT reorder registration.  The
    snapshot was captured immediately before that split."""
    import os

    snap_path = os.path.join(os.path.dirname(__file__), "data", "registry_order.txt")
    with open(snap_path) as fh:
        snapshot = fh.read().split()
    current = list(QUERIES)
    assert current[: len(snapshot)] == snapshot, (
        "registered query order changed vs tests/data/registry_order.txt "
        "(new queries may only APPEND)"
    )
