import json
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from verify import check_against_oracle, compare, oracle_connection
from workloads import expected_fact

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_compare_accepts_reordered_rows_and_columns():
    got = compare(["b", "a"], [(2, 1), (4, 3)], ["a", "b"], [(3, 4), (1, 2)])
    assert got.ok


def test_compare_flags_a_wrong_value_a_missing_row_and_a_renamed_column():
    want = (["k", "v"], [(1, 10.0), (2, 20.0)])
    assert not compare(["k", "v"], [(1, 10.0), (2, 21.0)], *want).ok
    assert not compare(["k", "v"], [(1, 10.0)], *want).ok
    assert not compare(["k", "w"], [(1, 10.0), (2, 20.0)], *want).ok


class _Frame:
    """The two members of a Spark DataFrame the oracle check reads."""

    def __init__(self, columns, rows):
        self.columns = columns
        self._rows = rows

    def collect(self):
        return self._rows


def test_oracle_check_flags_a_deliberately_wrong_result(tmp_path):
    pq.write_table(
        pa.table({"k": [1, 1, 2], "v": [1.5, 2.5, 4.0]}), str(tmp_path / "t.parquet")
    )
    con = oracle_connection(str(tmp_path))
    sql = "SELECT k, sum(v) AS s FROM t GROUP BY k"
    assert check_against_oracle(_Frame(["k", "s"], [(2, 4.0), (1, 4.0)]), con, sql).ok
    wrong = check_against_oracle(_Frame(["k", "s"], [(1, 4.0), (2, 4.5)]), con, sql)
    assert not wrong.ok and "values differ" in wrong.detail


def test_expected_fact_is_last_write_wins(tmp_path):
    header = (
        "Rental Id,Duration,Bike Id,End Date,EndStation Id,EndStation Name,"
        "Start Date,StartStation Id,StartStation Name\n"
    )
    (tmp_path / "w0.csv").write_text(
        header
        + "1,60,7,01/02/2021 10:01,3,s3,01/02/2021 10:00,4,s4\n"
        + "2,60,8,01/02/2021 11:00,3,s3,01/02/2021 11:00,4,s4\n"
    )
    (tmp_path / "w1.csv").write_text(
        header + "1,60,9,08/02/2021 09:05,5,s5,08/02/2021 09:00,6,s6\n"
    )
    got = sorted(expected_fact([str(tmp_path / "w0.csv"), str(tmp_path / "w1.csv")]))
    assert got == [
        ("1", "9", "2021-02-08 09:05", "5", "2021-02-08 09:00", "6", "2021-02-08"),
        ("2", "8", "2021-02-01 11:00", "3", "2021-02-01 11:00", "4", "2021-02-01"),
    ]


def test_benchmark_json_names_what_the_runner_prints():
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    from workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
