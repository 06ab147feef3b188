"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of ``seed``: the same seed writes
byte-identical parquet files, another seed writes different ones.  The
engine only ever sees the written parquet, never these Python objects.

Each corpus is written as ``N_FILES`` part files of several row groups
each, so Spark's file scan splits across every core instead of
reading one unsplittable row group in a single task.
"""

from __future__ import annotations

import hashlib
import json
import math
import random
import statistics
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

N_FILES = 16
ROW_GROUP_ROWS = 128

# ---- shared word material ------------------------------------------------

_SYLLABLES = ("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ber", "dan",
              "fel", "gor", "hin", "jas", "kul", "mar", "nor", "pel",
              "quin", "ros", "sel", "tam", "ulm", "ven", "wes", "yar")
# non-ASCII words (accented Latin, Greek, CJK, emoji) so decode and the
# tokenizer see multi-byte UTF-8 on every page
_NON_ASCII = ("café", "naïve", "Zürich", "smörgåsbord", "façade", "señor",
              "δεδομένα", "данные", "数据", "解析器", "ページ", "🙂", "→",
              "€100", "jalapeño", "crème")
_ENTITIES = ("&amp;", "&lt;", "&gt;", "&quot;", "&#169;", "&nbsp;",
             "&eacute;", "&#x2014;")


def _word_pool(rng: random.Random, n: int) -> list[str]:
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(_SYLLABLES)
                          for _ in range(rng.randint(1, 4))))
    return sorted(words)


def _sentence_pool(rng: random.Random, words: list[str],
                   n: int) -> list[str]:
    out = []
    for _ in range(n):
        ws = rng.choices(words, k=rng.randint(8, 18))
        if rng.random() < 0.3:
            ws[rng.randrange(len(ws))] = rng.choice(_NON_ASCII)
        if rng.random() < 0.15:
            ws[rng.randrange(len(ws))] = rng.choice(_ENTITIES)
        out.append(" ".join(ws).capitalize() + rng.choice(".!?."))
    return out


def _size_grid(rng: random.Random, n: int, median: float, sigma: float,
               lo: int, hi: int) -> list[int]:
    """n page sizes on a fixed lognormal quantile grid, in seeded order:
    every seed gets the same size distribution and total bytes."""
    dist = statistics.NormalDist(0, sigma)
    sizes = [int(min(hi, max(lo, median * math.exp(
        dist.inv_cdf((i + 0.5) / n))))) for i in range(n)]
    rng.shuffle(sizes)
    return sizes


def _pct(values: list[int]) -> dict:
    s = sorted(values)
    q = statistics.quantiles(s, n=100, method="inclusive")
    return {"p50": q[49], "p90": q[89], "p99": q[98], "max": s[-1]}


# ---- extract_heavy: text-heavy crawl pages --------------------------------

# Doc counts come from scaling runs (README "Workload sizes"): per-doc
# work, not the fixed cost of a Spark job, dominates the two HTML
# workloads; curate_dedup is as large as a full pass's time budget allows
EXTRACT_DOCS = 5000
# ~0.1% giant pages (fixed sizes so every seed has the same tail)
EXTRACT_GIANT_BYTES = (1_000_000, 1_750_000, 2_500_000, 3_250_000,
                       4_000_000)
EXTRACT_DEEP_LEVELS = (2000, 3000, 4000)
EXTRACT_MALFORMED_SHARE = 0.02


def _inline(rng: random.Random, sentences: list[str], k: int) -> str:
    parts = rng.choices(sentences, k=k)
    r = rng.random()
    if r < 0.35:
        parts.insert(1, f'<a href="/p/{rng.randrange(10**6)}">'
                        f"{rng.choice(sentences)[:24]}</a>")
    elif r < 0.55:
        parts.insert(1, f"<em>{rng.choice(sentences)[:16]}</em>")
    elif r < 0.7:
        parts.insert(1, f"<strong>{rng.choice(sentences)[:16]}</strong>")
    return " ".join(parts)


def _text_block(rng: random.Random, sentences: list[str],
                malformed: bool) -> str:
    r = rng.random()
    if r < 0.72:
        body = _inline(rng, sentences, rng.randint(2, 5))
        close = "" if malformed and rng.random() < 0.3 else "</p>"
        return f"<p>{body}{close}\n"
    if r < 0.82:
        return f"<h2>{rng.choice(sentences)[:40]}</h2>\n"
    if r < 0.92:
        items = "".join(f"<li>{_inline(rng, sentences, 1)}</li>"
                        for _ in range(rng.randint(3, 6)))
        return f"<ul>{items}</ul>\n"
    if malformed:
        return (f"<div class=note><b><i>{rng.choice(sentences)}</b></i>"
                f" a < b </span></div>\n")
    return f"<blockquote>{_inline(rng, sentences, 2)}</blockquote>\n"


def _extract_page(rng: random.Random, sentences: list[str], url: str,
                  target: int, deep: int = 0,
                  malformed: bool = False) -> str:
    head = (f'<!DOCTYPE html>\n<html lang="en"><head><meta charset="utf-8">'
            f"<title>{rng.choice(sentences)[:50]}</title>"
            f"<style>body {{ margin: 0 }} .c {{ color: #333 }}</style>"
            f"<script>var u = {json.dumps(url)}; if (a < b) {{ f(); }}"
            f"</script></head>\n<body><header><nav>"
            + "".join(f'<a href="/s/{i}">{rng.choice(sentences)[:12]}</a>'
                      for i in range(5))
            + '</nav></header>\n<main class="main"><article>'
            f"<h1>{rng.choice(sentences)[:60]}</h1>\n")
    tail = ("</article><aside><p>" + rng.choice(sentences)
            + "</p></aside></main>\n<!-- page end -->"
            + "<footer><p>" + rng.choice(sentences)
            + "</p></footer></body></html>\n")
    parts = [head]
    size = len(head) + len(tail)
    if deep:
        nest = "<div>" * deep + rng.choice(sentences) + "</div>" * deep
        parts.append(nest)
        size += len(nest)
    while size < target:
        block = _text_block(rng, sentences, malformed)
        parts.append(block)
        size += len(block)
    parts.append(tail)
    return "".join(parts)


def gen_extract(seed: int) -> dict:
    rng = random.Random(f"extract_heavy/{seed}")
    sentences = _sentence_pool(rng, _word_pool(rng, 3000), 4000)
    n = EXTRACT_DOCS
    # giants and deep pages sit at seeded positions inside evenly
    # spaced strata, so the tail spreads over the scan's splits
    giant_at = {
        (i * n) // len(EXTRACT_GIANT_BYTES)
        + rng.randrange(n // len(EXTRACT_GIANT_BYTES)): b
        for i, b in enumerate(EXTRACT_GIANT_BYTES)}
    deep_at = {}
    for i, d in enumerate(EXTRACT_DEEP_LEVELS):
        at = (i * n) // len(EXTRACT_DEEP_LEVELS) + rng.randrange(
            n // len(EXTRACT_DEEP_LEVELS))
        if at not in giant_at:
            deep_at[at] = d
    sizes = _size_grid(rng, n, 16_000, 0.45, 8_000, 40_000)
    urls, htmls, malformed = [], [], 0
    for i in range(n):
        url = f"https://site{rng.randrange(97)}.example.org/a/{seed}/{i}"
        bad = rng.random() < EXTRACT_MALFORMED_SHARE
        malformed += bad
        target = giant_at.get(i) or sizes[i]
        page = _extract_page(rng, sentences, url, target,
                             deep=deep_at.get(i, 0), malformed=bad)
        urls.append(url)
        htmls.append(page.encode("utf-8"))
    return {"urls": urls, "htmls": htmls,
            "props": {"malformed_docs": malformed,
                      "giant_docs": len(giant_at),
                      "deep_docs": len(deep_at)}}


# ---- edit_tagdense: small tag/attribute-dense pages -----------------------

EDIT_DOCS = 1600


def _attrs(rng: random.Random, words: list[str], n: int,
           skip: tuple[str, ...] = ()) -> str:
    """n attributes in the three syntaxes: quoted, unquoted, valueless."""
    out = {}
    for k in range(n):
        name = ("class", "id", "title", "data-k", "data-v", "role",
                "lang", "hidden", "tabindex", "dir")[
                    (k + rng.randrange(10)) % 10]
        if name in skip or name in out:
            name = f"data-{k}"
        form = rng.random()
        if name == "hidden" or form < 0.15:
            out[name] = name
        elif form < 0.45:
            out[name] = f"{name}={rng.choice(words)}"
        elif form < 0.55:
            out[name] = f"{name}='{rng.choice(words)}'"
        else:
            out[name] = f'{name}="{rng.choice(words)}"'
    return " ".join(out.values())


def _css_rules(rng: random.Random, words: list[str], n: int) -> str:
    rules = []
    for _ in range(n):
        sel = rng.choice((".", "#", "")) + rng.choice(words)
        if rng.random() < 0.3:
            sel += " > " + rng.choice(("a", "p", "span", "li"))
        decls = "; ".join(
            f"{rng.choice(('color', 'margin', 'padding', 'font-size'))}: "
            f"{rng.randrange(1, 40)}px" for _ in range(rng.randint(1, 4)))
        rules.append(f"{sel} {{ {decls} }}")
    if rng.random() < 0.5:
        rules.append("@media (max-width: 600px) { .main { padding: 0 } }")
    return "\n".join(rules)


def _edit_block(rng: random.Random, words: list[str]) -> str:
    """One tag-dense block: container tags carry 3-6 attributes,
    inline tags 0-2, and whitespace between tags becomes text nodes."""
    a = lambda: _attrs(rng, words, rng.randint(3, 6))  # noqa: E731
    s = lambda: _attrs(rng, words, rng.randint(0, 2))  # noqa: E731
    w = lambda: rng.choice(words)  # noqa: E731
    r = rng.random()
    if r < 0.4:
        return (f"<div {a()}>\n <span {s()}>{w()}</span> <b>{w()}</b>"
                f" <img src=/i/{rng.randrange(99)}.png {s()}> <br>"
                f" <a href=/x/{rng.randrange(99)} {s()}>{w()}</a>\n"
                f" <p {s()}>{w()} <i>{w()}</i> {w()}</p>\n</div>\n")
    if r < 0.6:
        items = "".join(f" <li {s()}><a href=/l/{j}>{w()}</a></li>\n"
                        for j in range(rng.randint(3, 6)))
        return f"<ul {a()}>\n{items}</ul>\n"
    if r < 0.75:
        return (f"<form {a()}>\n <input type=text {s()}>"
                f" <input type=checkbox checked disabled>"
                f" <label {s()}>{w()}</label> <hr>\n</form>\n")
    if r < 0.85:
        return (f"<!-- {w()} -->\n<section {a()}>\n <p>{w()}</p>"
                f" <p>{w()} <em>{w()}</em></p>\n</section>\n")
    cells = "".join(f" <td {s()}>{w()}</td>" for _ in range(3))
    return (f"<table {a()}>\n <tr>{cells}</tr>\n"
            f" <tr>{cells}</tr>\n</table>\n")


def _edit_page(rng: random.Random, words: list[str], url: str,
               target: int) -> str:
    w = lambda k: " ".join(rng.choices(words, k=k))  # noqa: E731
    a = lambda: _attrs(rng, words, rng.randint(3, 6))  # noqa: E731
    head = (f'<!DOCTYPE html>\n<html lang=en><head><meta charset="utf-8">'
            f"<title>{w(4)}</title>"
            f"<style>\n{_css_rules(rng, words, rng.randint(10, 30))}\n"
            f"</style><script>var page = {json.dumps(url)};"
            f" for (var i = 0; i < 3; i++) {{ f(i); }}</script></head>\n"
            f"<body {a()}><header {a()}><nav {a()}>"
            + "".join(f' <a href="/n/{j}" {a()}>{w(1)}</a>'
                      for j in range(rng.randint(4, 6)))
            + f'</nav></header>\n<main class="main" '
            f'{_attrs(rng, words, rng.randint(2, 5), skip=("class",))}>'
            f"<h1 {a()}>{w(5)}</h1>\n")
    tail = (f"</main><aside {a()}><p {a()}>{w(6)}</p></aside>\n"
            f"<footer {a()}><p>{w(4)}</p><a href=/t {a()}>{w(1)}</a>"
            f"</footer></body></html>\n")
    parts = [head]
    size = len(head) + len(tail)
    while size < target:
        block = _edit_block(rng, words)
        parts.append(block)
        size += len(block)
    parts.append(tail)
    return "".join(parts)


def gen_edit(seed: int) -> dict:
    rng = random.Random(f"edit_tagdense/{seed}")
    words = [w for w in _word_pool(rng, 1500) if len(w) <= 5]
    sizes = list(range(5_000, 8_500, 3_500 // EDIT_DOCS))[:EDIT_DOCS]
    rng.shuffle(sizes)
    urls, htmls = [], []
    for i in range(EDIT_DOCS):
        url = f"https://shop{rng.randrange(53)}.example.com/e/{seed}/{i}"
        page = _edit_page(rng, words, url, sizes[i])
        urls.append(url)
        htmls.append(page.encode("utf-8"))
    return {"urls": urls, "htmls": htmls, "props": {}}


# ---- curate_dedup: a documents table for the curation recipe --------------

CURATE_DOCS = 4000
# stopwords per declared language (a subset of the engine's lang-id
# profiles; "the" and "a" are added to every doc for the Gopher gate)
_LANG_STOPS = {
    "en": ("and", "of", "to", "in", "is", "it", "that"),
    "de": ("der", "die", "das", "und", "ist", "von", "mit", "ein"),
    "fr": ("le", "les", "et", "une", "est", "dans"),
    "es": ("el", "los", "y", "que", "en", "es"),
}
# planted shares: each makes one funnel stage remove documents
CURATE_SHARES = {"gopher_short": 0.05, "gopher_hash": 0.04,
                 "lang_mismatch": 0.08, "low_quality": 0.06,
                 "oov_heavy": 0.06, "exact_dup": 0.08, "near_dup": 0.08}


def _curate_text(rng: random.Random, words: list[str], lang: str,
                 n_words: int) -> list[str]:
    stops = _LANG_STOPS[lang]
    toks = rng.choices(words, k=n_words)
    for j in range(0, n_words, 4):
        toks[j] = rng.choice(stops)
    toks[1], toks[3] = "the", "a"
    return toks


def gen_curate(seed: int) -> dict:
    rng = random.Random(f"curate_dedup/{seed}")
    words = [w for w in _word_pool(rng, 420) if len(w) >= 3][:300]
    langs = sorted(_LANG_STOPS)
    n = CURATE_DOCS
    kinds = []
    for kind, share in CURATE_SHARES.items():
        kinds += [kind] * int(round(share * n))
    kinds += ["plain"] * (n - len(kinds))
    rng.shuffle(kinds)
    # word counts on a fixed grid, shuffled: every seed has the same mix
    n_words = [70 + i * 71 // n for i in range(n)]
    rng.shuffle(n_words)
    rows, base_texts = [], []
    for doc_id, kind in enumerate(kinds):
        lang = rng.choice(langs)
        if kind in ("exact_dup", "near_dup") and base_texts:
            src_lang, src = rng.choice(base_texts)
            lang, toks = src_lang, list(src)
            if kind == "near_dup":
                # one substitution: 3-shingle Jaccard >= 0.9 with the
                # source, so MinHash banding finds the pair every time
                j = rng.randrange(len(toks) // 3, 2 * len(toks) // 3)
                toks[j] = rng.choice(words)
        else:
            toks = _curate_text(rng, words, lang, n_words[doc_id])
            if kind == "gopher_short":
                toks = toks[:rng.randint(8, 15)]
            elif kind == "gopher_hash":
                for j in range(2, len(toks), 5):
                    toks[j] = "#" + toks[j]
            elif kind == "low_quality":
                # punctuation on content words only: the stopwords the
                # Gopher gate and lang-id read stay intact
                stops = set(_LANG_STOPS[lang]) | {"the", "a"}
                toks = [t if t in stops else t + ",;!?" for t in toks]
            elif kind == "oov_heavy":
                for j in range(2, len(toks), 5):
                    toks[j] = "zq" + "".join(rng.choices("xkvjw", k=6))
            elif kind == "plain":
                base_texts.append((lang, toks))
            if kind == "lang_mismatch":
                lang = rng.choice([x for x in langs if x != lang])
        text = " ".join(toks)
        rows.append((doc_id, text, lang, f"src{rng.randrange(20)}",
                     len(text)))
    return {"rows": rows,
            "props": {k: int(round(v * n)) for k, v in
                      CURATE_SHARES.items()}}


# ---- writing -------------------------------------------------------------

HTML_SCHEMA = pa.schema([("url", pa.string()), ("html", pa.binary())])
DOCS_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                         ("lang", pa.string()), ("source", pa.string()),
                         ("n_chars", pa.int64())])


def _write_parts(table: pa.Table, out_dir: Path) -> None:
    out_dir.mkdir(parents=True, exist_ok=True)
    n = table.num_rows
    for p in range(N_FILES):
        lo, hi = p * n // N_FILES, (p + 1) * n // N_FILES
        pq.write_table(table.slice(lo, hi - lo),
                       out_dir / f"part-{p:02d}.parquet",
                       row_group_size=ROW_GROUP_ROWS,
                       compression="zstd")


def generate(workload: str, seed: int, out_dir: Path) -> dict:
    """Write the workload's corpus under ``out_dir/data`` and return its
    input properties (the ``sources`` layer: input shape only)."""
    if workload == "curate_dedup":
        g = gen_curate(seed)
        cols = list(zip(*g["rows"]))
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, DOCS_SCHEMA)],
            schema=DOCS_SCHEMA)
        sizes = [r[4] for r in g["rows"]]
        texts = [r[1] for r in g["rows"]]
        props = {"docs": len(sizes), "bytes": sum(
            len(t.encode()) for t in texts),
            "doc_bytes": _pct(sizes),
            "exact_dup_share": round(1 - len(set(texts)) / len(texts), 4),
            "planted": g["props"]}
    else:
        g = (gen_extract if workload == "extract_heavy" else gen_edit)(seed)
        table = pa.Table.from_arrays(
            [pa.array(g["urls"], pa.string()),
             pa.array(g["htmls"], pa.binary())], schema=HTML_SCHEMA)
        sizes = [len(h) for h in g["htmls"]]
        props = {"docs": len(sizes), "bytes": sum(sizes),
                 "doc_bytes": _pct(sizes),
                 "largest_index": sizes.index(max(sizes)), **g["props"]}
    _write_parts(table, out_dir / "data")
    return props


def corpus_digest(data_dir: Path) -> str:
    """sha256 over the part files' bytes, in name order."""
    h = hashlib.sha256()
    for p in sorted(data_dir.glob("part-*.parquet")):
        h.update(p.name.encode())
        h.update(p.read_bytes())
    return h.hexdigest()
