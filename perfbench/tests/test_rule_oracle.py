"""The pure-Python rule oracle agrees with the Spark rule engine."""

import pytest

from perfbench import catalogs, rule_oracle
from rdbms_metadata_manager_spark.catalog import fixtures

FIXTURES = {
    "ecommerce_db": (fixtures.ECOMMERCE_COLUMNS, fixtures.ECOMMERCE_INDEXES, fixtures.ECOMMERCE_FOREIGN_KEYS),
    "quirks_db": (fixtures.QUIRKS_COLUMNS, fixtures.QUIRKS_INDEXES, fixtures.QUIRKS_FOREIGN_KEYS),
}


def _engine(spark, catalog):
    from rdbms_metadata_manager_spark.catalog.fixtures import _local_df
    from rdbms_metadata_manager_spark.catalog.schemas import (
        COLUMNS_META_SCHEMA, FOREIGN_KEYS_META_SCHEMA, INDEXES_META_SCHEMA)
    from rdbms_metadata_manager_spark.rules import detect_schema_flaws

    cols, idx, fks = catalog
    return detect_schema_flaws(_local_df(spark, cols, COLUMNS_META_SCHEMA),
                               _local_df(spark, idx, INDEXES_META_SCHEMA),
                               _local_df(spark, fks, FOREIGN_KEYS_META_SCHEMA))


@pytest.mark.parametrize("db", sorted(FIXTURES))
def test_oracle_matches_engine_on_fixture(spark, db, capsys):
    from rdbms_metadata_manager_spark.sinks import print_report

    catalog = FIXTURES[db]
    issues = _engine(spark, catalog)
    want = rule_oracle.detect(*catalog)
    assert [tuple(r) for r in issues.collect()] == want
    assert print_report(issues, db) == rule_oracle.report_text(want, db)
    assert capsys.readouterr().out == rule_oracle.report_text(want, db) + "\n"


def test_oracle_matches_engine_on_generated_catalog(spark):
    catalog = catalogs.generate(11, 30)
    assert [tuple(r) for r in _engine(spark, catalog).collect()] == rule_oracle.detect(*catalog)


def test_oracle_keeps_reference_quirks():
    issues = rule_oracle.detect(*FIXTURES["quirks_db"])
    by_column = {(t, c): [r[5] for r in issues if (r[0], r[1]) == (t, c)] for t, c, *_ in issues}
    assert by_column[("shipments", "bin_id")] == [2]  # composite-FK tail stays uncovered
    assert ("shipments", "warehouse_id") not in by_column
    assert by_column[("payments", "idempotency_key")] == [2]  # startswith("id")
    assert by_column[("payments", "corporate_rate_x")] == [3]  # substring match
    assert 1 in by_column[("audit", "notes")]  # unique=None is falsy
    assert ("audit", "summary") not in by_column  # unique=True
    rule2 = next(r for r in issues if r[5] == 2)
    assert rule2[4].endswith("index. ")
    assert rule_oracle.csv_rows([rule2])[0][4].endswith("index.")
