"""BENCHMARK.json keeps the file format, and every mapping names a real metric."""

import re

from perfbench import spec

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_names_units_and_bounds():
    b = spec.BENCHMARK
    names = [m["name"] for m in b["workloads"] + b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for w in b["workloads"]:
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in b["end_to_end"] + b["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    for m in b["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    assert max(m["bound"] for m in b["end_to_end"]) == spec.END_TO_END["setup_s"][2]
    assert {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25} in b["end_to_end"]
    for moves, on in spec.MOVES.values():
        assert moves in spec.END_TO_END and on in list(spec.WORKLOADS) + ["all"]
