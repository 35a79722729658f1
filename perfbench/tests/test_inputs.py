"""The generator gives byte-identical inputs for one seed."""

import filecmp
import os

import pytest

from perfbench import inputs


def _tree(root):
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[os.path.relpath(p, root)] = p
    return out


def _same_tree(a, b):
    ta, tb = _tree(a), _tree(b)
    return sorted(ta) == sorted(tb) and all(filecmp.cmp(ta[k], tb[k], shallow=False) for k in ta)


@pytest.mark.parametrize("make", [inputs.make_interactive, inputs.make_scan])
def test_same_seed_same_bytes_other_seed_same_shape(tmp_path, make):
    m1 = make(str(tmp_path / "a"), 11)
    m2 = make(str(tmp_path / "b"), 11)
    m3 = make(str(tmp_path / "c"), 12)
    assert m1 == m2
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert not _same_tree(tmp_path / "a", tmp_path / "c")
    # another seed picks other rows, never another amount of them
    assert {k: (v["files"], v["rows"]) for k, v in m1.items()} == {
        k: (v["files"], v["rows"]) for k, v in m3.items()
    }
    for v in m1.values():
        assert v["rows"] > 0 and v["bytes"] > 0


def test_manifest_counts_the_rows_written(tmp_path):
    p, s = inputs.INTERACTIVE, inputs.SCAN
    m = inputs.generate("interactive", str(tmp_path / "i"), 5)
    assert {k: v["rows"] for k, v in m.items()} == {
        "customer": p["customer_rows"],
        "orders": p["orders_rows"],
        "recent_b": p["recent_rows"],
        "recent_c": p["recent_rows"],
        "lineitem": p["lineitem_rows"],
        "events_glob": p["events_files"] * p["events_rows_per_file"],
        "events_pool": p["pool_files"] * p["events_rows_per_file"],
    }
    with open(tmp_path / "i" / "orders.csv") as f:
        assert sum(1 for _ in f) - 1 == p["orders_rows"]
    m = inputs.generate("scan", str(tmp_path / "s"), 5)
    assert m["scan_csv"]["rows"] == s["files"] * s["csv_rows_per_file"]
    assert m["scan_json"]["rows"] == s["files"] * s["json_rows_per_file"]


def test_batch_fixtures_are_single_row_group(tmp_path):
    m = inputs.copy_fixtures(str(tmp_path))
    assert set(m) == set(inputs.BATCH_TABLES)
    assert all(v["row_groups"] == 1 for v in m.values())
