import filecmp
import os

import gen
import pyarrow.csv as pacsv


def _files(root):
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, fs in os.walk(root)
        for f in fs
    )


def _same_tree(a, b):
    fa, fb = _files(a), _files(b)
    return fa == fb and all(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False) for f in fa)


def test_same_seed_gives_byte_identical_files(tmp_path):
    for kind, size in (("warehouse", 2_000), ("journey", 500)):
        a = gen.cached(str(tmp_path / "a"), kind, 7, size)
        b = gen.cached(str(tmp_path / "b"), kind, 7, size)
        c = gen.cached(str(tmp_path / "c"), kind, 8, size)
        assert _same_tree(a, b), kind
        assert not _same_tree(a, c), kind


def test_cache_reuses_a_complete_tree(tmp_path):
    a = gen.cached(str(tmp_path), "warehouse", 1, 500)
    stamp = os.path.getmtime(os.path.join(a, "lineitem.parquet"))
    assert gen.cached(str(tmp_path), "warehouse", 1, 500) == a
    assert os.path.getmtime(os.path.join(a, "lineitem.parquet")) == stamp


def test_journey_weeks_carry_the_fixture_shapes(tmp_path):
    root = gen.cached(str(tmp_path), "journey", 3, 5_000)
    w0 = pacsv.read_csv(os.path.join(root, "week0.csv")).to_pydict()
    w1 = pacsv.read_csv(os.path.join(root, "week1.csv")).to_pydict()
    redelivered = set(w0["Rental Id"]) & set(w1["Rental Id"])
    assert 20 <= len(redelivered) <= 80  # about 1 %
    unknown = sum(s > gen.N_STATIONS for s in w1["StartStation Id"])
    assert 20 <= unknown <= 80  # about 1 %
    shared = sum(a == b for a, b in zip(w1["Start Date"], w1["End Date"]))
    assert shared > 0
    assert len(set(w1["Rental Id"])) == len(w1["Rental Id"])
