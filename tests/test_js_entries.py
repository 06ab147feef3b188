"""``jsre.js_entries`` keeps ``Object.entries`` order (no Spark).

The fast path probes only keys that start with an ASCII digit; the
probe-every-key implementation it replaced is kept here as the oracle.
'²' and '١٢' are digits to ``str.isdigit()`` but not array indices.
"""

from __future__ import annotations

import random
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from simple_html_parser_spark.kernel.jsre import js_entries  # noqa: E402

KEYS = ["", "0", "00", "01", "10", "4294967294", "4294967295", "-1", "1.5",
        "a1", "1a", "²", "١٢"]


def _oracle_is_array_index(key: str) -> bool:
    if not key or any(c not in "0123456789" for c in key):
        return False
    if len(key) > 1 and key[0] == "0":
        return False
    return int(key) < 4294967295


def _oracle_entries(d: dict) -> list:
    idx = []
    rest = []
    for k in d:
        (idx if _oracle_is_array_index(k) else rest).append(k)
    idx.sort(key=int)
    return [(k, d[k]) for k in idx] + [(k, d[k]) for k in rest]


def _orders() -> list[list[str]]:
    rng = random.Random(7)
    out = [list(KEYS), list(reversed(KEYS)), sorted(KEYS)]
    for _ in range(50):
        keys = list(KEYS)
        rng.shuffle(keys)
        out.append(keys[:rng.randint(0, len(keys))])
    return out


def test_js_entries_matches_the_probe_every_key_oracle():
    for keys in _orders():
        d = {k: f"v{i}" for i, k in enumerate(keys)}
        assert js_entries(d) == _oracle_entries(d), keys


def test_js_entries_pinned_order():
    d = {k: k for k in KEYS}
    assert [k for k, _ in js_entries(d)] == [
        "0", "10", "4294967294",
        "", "00", "01", "4294967295", "-1", "1.5", "a1", "1a", "²", "١٢"]
