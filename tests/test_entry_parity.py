"""End-to-end parity: every ``queries()`` entry against its ``oracle_sql()``
via DuckDB — the same comparison the driver's correctness gate performs."""

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


def test_all_oracle_keys_have_queries():
    qs = entry_mod.queries()
    for name in entry_mod.oracle_sql():
        assert name in qs
