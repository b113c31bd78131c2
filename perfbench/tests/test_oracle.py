import numpy as np
import pandas as pd

from perfbench import oracle


def test_compare_rounds_floats_and_ignores_row_and_column_order():
    got = pd.DataFrame({"b": [2.0000001, 1.0], "a": [2, 1]})
    want = pd.DataFrame({"a": [1, 2], "b": [1.0, 2.0]})
    assert oracle.compare(got, want) is None


def test_compare_names_the_first_difference():
    want = pd.DataFrame({"a": [1, 2], "b": [1.0, np.nan]})
    assert oracle.compare(want.iloc[:1], want).startswith("rowcount")
    assert oracle.compare(want.rename(columns={"b": "c"}), want).startswith("columns")
    assert oracle.compare(want.assign(b=[1.00001, np.nan]), want).startswith("column b")
    assert oracle.compare(want.assign(a=[1, 3]), want) == "column a: 1 values differ"


def test_table_path_reads_part_file_directories(tmp_path):
    (tmp_path / "orders.parquet").mkdir()
    (tmp_path / "region.parquet").write_bytes(b"")
    assert oracle.table_path(str(tmp_path), "orders").endswith("orders.parquet/*.parquet")
    assert oracle.table_path(str(tmp_path), "region").endswith("region.parquet")
