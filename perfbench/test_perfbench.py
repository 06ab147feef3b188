"""Tests for the benchmark itself: generator determinism and metric names.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import gen  # noqa: E402
from probe import Tracer, spanned  # noqa: E402
from workloads import EditTagdense  # noqa: E402

SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_same_seed_same_bytes_other_seed_other_bytes(workload, tmp_path):
    a = gen.generate(workload, 7, tmp_path / "a")
    b = gen.generate(workload, 7, tmp_path / "b")
    c = gen.generate(workload, 8, tmp_path / "c")
    digest = {k: gen.corpus_digest(tmp_path / k / "data") for k in "abc"}
    assert a == b
    assert digest["a"] == digest["b"]
    assert digest["a"] != digest["c"]


def test_seeds_share_the_size_distribution():
    sizes = [sorted(len(h) for h in gen.gen_edit(s)["htmls"])
             for s in (1, 2)]
    assert abs(sum(sizes[0]) - sum(sizes[1])) < 0.01 * sum(sizes[0])


def test_metric_names_are_valid_and_unique():
    names = [m["name"] for key in ("end_to_end", "per_layer")
             for m in SPEC[key]] + [w["name"] for w in SPEC["workloads"]]
    assert all(NAME.fullmatch(n) for n in names), names
    assert len(names) == len(set(names))


def test_end_to_end_keys_and_bounds():
    e2e = {m["name"]: m for m in SPEC["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s"
    assert e2e["setup_s"]["better"] == "lower"
    for m in e2e.values():
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())


def test_spanned_wraps_and_restores():
    import types
    mod = types.SimpleNamespace(f=lambda x: x + 1)
    orig = mod.f
    tracer = Tracer("t", True)
    with spanned(tracer, {"layer.f": (mod, ("f",))}):
        assert mod.f(1) == 2
    assert mod.f is orig
    assert [s["name"] for s in tracer.spans] == ["layer.f"]


def test_edit_replay_spans_every_edit_layer(tmp_path):
    props = gen.generate("edit_tagdense", 7, tmp_path)
    wl = EditTagdense(tmp_path / "data", props, 7)
    pages = wl.pages([0, 1])
    tracer = Tracer("t", True)
    wl.kernel_layers(tracer, pages)
    selfs = tracer.self_times()
    for layer in ("charset", "tokenizer", "selector", "manipulate",
                  "serialize"):
        assert selfs.get(f"kernel.{layer}", 0) > 0, layer
    assert wl.layer_hashes == {u: wl.replay(raw)[0] for u, raw in pages}
