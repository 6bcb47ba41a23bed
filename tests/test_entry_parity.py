"""End-to-end parity: every ``queries()`` entry against its ``oracle_sql()``
via DuckDB — the same comparison the driver's correctness gate performs."""

import shutil
from pathlib import Path

import pytest

import __spark_entry__ as entry_mod
from tests.conftest import assert_df_equals_oracle


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.count()
    assert rows >= 0
    assert df.schema is not None


# one queries() dict for the module: its calls share one Ctx, so the corpus
# is derived and encoded once, as in a driver run
QUERIES = entry_mod.queries()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, sf_dir, name):
    q = QUERIES[name]
    oracles = entry_mod.oracle_sql()
    df = q(spark, sf_dir)
    if name not in oracles:
        assert df.count() >= 0  # rows-only check, same as the driver
        return
    assert_df_equals_oracle(df, oracles[name], sf_dir)


@pytest.fixture(scope="module")
def empty_events_sf_dir(sf_dir, tmp_path_factory):
    """``sf_dir`` with the events table sliced to 0 rows, its schema kept,
    and every other table copied."""
    import pyarrow.parquet as pq

    out = tmp_path_factory.mktemp("sf_empty_events")
    for p in Path(sf_dir).glob("*.parquet"):
        if p.name == "events.parquet":
            pq.write_table(pq.read_table(p).slice(0, 0), out / p.name)
        else:
            shutil.copy(p, out / p.name)
    return str(out)


@pytest.mark.parametrize(
    "name",
    ["events_stream_sessions", "events_stream_stays", "events_stream_dwell",
     "events_stream_funnel", "events_stream_impossible"],
)
def test_stateful_stream_on_empty_events_matches_oracle(spark, empty_events_sf_dir, name):
    """The stateful stream replays have no user to flush: they return the
    oracle's rows (none) instead of failing on the missing max timestamp."""
    df = QUERIES[name](spark, empty_events_sf_dir)
    assert_df_equals_oracle(df, entry_mod.oracle_sql()[name], empty_events_sf_dir)


def test_all_oracle_keys_have_queries():
    qs = entry_mod.queries()
    for name in entry_mod.oracle_sql():
        assert name in qs
