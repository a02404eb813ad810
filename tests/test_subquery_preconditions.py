"""q24c evaluates ``NOT IN`` as ``NOT EXISTS``, which is only equivalent
over non-NULL keys. The precondition is proved from the parquet footers'
null counts before the query is built: a NULL key, or a file without the
statistic, fails loudly instead of returning different rows."""

from __future__ import annotations

import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from crest_spark.operators.subqueries import q24c_in_subquery
from crest_spark.sources.tables import table_path


def _copy_tables(sf_dir: str, dst, *names: str) -> None:
    for n in names:
        shutil.copy(table_path(sf_dir, n), table_path(str(dst), n))


def _null_first_key(t: pa.Table, column: str) -> pa.Table:
    i = t.schema.get_field_index(column)
    keys = t.column(column)
    mask = pa.array([True] + [False] * (t.num_rows - 1))
    return t.set_column(i, column, pc.if_else(mask, None, keys))


@pytest.mark.parametrize(
    "table,column", [("orders", "o_orderkey"), ("lineitem", "l_orderkey")]
)
def test_q24c_rejects_null_key(spark, sf_dir, tmp_path, table, column):
    others = {"orders", "customer", "lineitem"} - {table}
    _copy_tables(sf_dir, tmp_path, *others)
    t = pq.read_table(table_path(sf_dir, table))
    pq.write_table(_null_first_key(t, column), table_path(str(tmp_path), table))
    with pytest.raises(ValueError, match=f"{table}.{column}.*1 NULL"):
        q24c_in_subquery(spark, str(tmp_path))


def test_q24c_rejects_missing_null_count(spark, sf_dir, tmp_path):
    _copy_tables(sf_dir, tmp_path, "customer", "lineitem")
    t = pq.read_table(table_path(sf_dir, "orders"))
    pq.write_table(t, table_path(str(tmp_path), "orders"), write_statistics=False)
    with pytest.raises(ValueError, match="orders.o_orderkey.*no null-count"):
        q24c_in_subquery(spark, str(tmp_path))
