"""Generate fixtures/goldens.jsonl by running the REFERENCE parser
(via tools/ref_dump.mjs under Node) over tools/fixture_corpus.py.

Run once per corpus change:  python3 tools/make_goldens.py

Reference-only: needs Node and the reference checkout that
tools/ref_dump.mjs imports; without it ref_dump.mjs exits 1 and this
tool fails (the committed fixtures/goldens.jsonl stays the pin).
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "tools"))

from fixture_corpus import CASES  # noqa: E402


def run_reference(cases: list[dict]) -> list[dict]:
    inp = "\n".join(json.dumps(c, ensure_ascii=False) for c in cases)
    proc = subprocess.run(
        ["node", str(ROOT / "tools" / "ref_dump.mjs")],
        input=inp, capture_output=True, text=True, check=True,
    )
    return [json.loads(line) for line in proc.stdout.splitlines()]


def main() -> None:
    results = run_reference(CASES)
    errors = [r for r in results if "error" in r]
    if errors:
        for r in errors:
            print(f"REFERENCE ERROR {r['id']}: {r['error']}")
        raise SystemExit(1)
    out = ROOT / "fixtures" / "goldens.jsonl"
    with out.open("w", encoding="utf-8") as f:
        for r in results:
            f.write(json.dumps(r, ensure_ascii=False, sort_keys=True))
            f.write("\n")
    print(f"wrote {len(results)} goldens → {out}")


if __name__ == "__main__":
    main()
