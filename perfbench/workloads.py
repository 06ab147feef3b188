"""The three workloads: the Spark job each one times, the checks on its
output, and the per-layer measurements its traced run adds.

Each workload drives the engine only through public entry points:
``operators.extraction.extract_documents``,
``operators.editing.edit_roundtrip``, ``operators.curation.curate_full``
(plus the curation operators it composes, for the traced funnel) and
the ``kernel.*`` functions.
"""

from __future__ import annotations

import hashlib
import importlib
import inspect
import json
import random
import re
from collections import Counter
from contextlib import nullcontext
from pathlib import Path

import pyarrow.parquet as pq

from probe import Tracer, spanned

KERNEL_SAMPLE = 200   # docs timed in-process per traced run
REPLAY_SAMPLE = 48    # docs re-run in-process to check Spark's output


class CheckFailed(Exception):
    pass


def _sha(obj) -> str:
    return hashlib.sha256(
        json.dumps(obj, ensure_ascii=False, separators=(",", ":"))
        .encode("utf-8")).hexdigest()


def _digest(pairs) -> str:
    h = hashlib.sha256()
    for key, out in sorted(pairs):
        h.update(f"{key}\t{out}\n".encode("utf-8"))
    return h.hexdigest()


class _HtmlWorkload:
    """Shared shape of the two HTML workloads: (url, html) parquet in,
    one output row per url back."""

    def __init__(self, data_dir: Path, props: dict, seed: int):
        self.data_dir = data_dir
        self.props = props
        self.seed = seed
        self.docs = props["docs"]
        self.input_bytes = props["bytes"]
        self.urls = pq.read_table(data_dir, columns=["url"]) \
            .column("url").to_pylist()

    def pages(self, idx: list[int]) -> list[tuple[str, bytes]]:
        t = pq.read_table(self.data_dir).take(idx)
        return list(zip(t.column("url").to_pylist(),
                        t.column("html").to_pylist()))

    def sample(self, k: int, salt: str, largest: bool = False) -> list[int]:
        """k seeded doc indexes, plus the largest page if asked."""
        rng = random.Random(f"{salt}/{self.seed}")
        idx = rng.sample(range(self.docs), k)
        if largest and self.props["largest_index"] not in idx:
            idx.append(self.props["largest_index"])
        return sorted(idx)

    def row_hashes(self, tbl, urls=None) -> dict[str, str]:
        """Output hash per url, for every row or only ``urls`` (hashing
        all 5,000 extract rows takes about 4 s)."""
        if urls is not None:
            at = {u: i for i, u in enumerate(tbl.column("url").to_pylist())}
            tbl = tbl.take([at[u] for u in urls])
        cols = [tbl.column(c).to_pylist() for c in self.columns]
        return {u: _sha([c[i] for c in cols]) for i, u in
                enumerate(tbl.column("url").to_pylist())}

    def failed_docs(self, tbl) -> int:
        """error rows plus urls missing from the output."""
        seen = Counter(tbl.column("url").to_pylist())
        missing = sum(1 for u in self.urls if u not in seen)
        errors = tbl.num_rows - tbl.column("error").null_count
        return missing + errors

    def check(self, tbl, digest: bool) -> dict:
        urls = tbl.column("url").to_pylist()
        counts = Counter(urls)
        dup = sum(1 for c in counts.values() if c > 1)
        missing = [u for u in self.urls if u not in counts]
        extra = len(set(counts) - set(self.urls))
        if dup or missing or extra:
            raise CheckFailed(
                f"url coverage: {len(missing)} missing, {dup} repeated, "
                f"{extra} unknown")
        errors = tbl.num_rows - tbl.column("error").null_count
        if errors:
            first = next(e for e in tbl.column("error").to_pylist() if e)
            raise CheckFailed(f"{errors} error rows, e.g. {first}")
        pages = self.pages(self.sample(REPLAY_SAMPLE, "replay",
                                       largest=True))
        outs = self.row_hashes(tbl, None if digest else
                               [u for u, _ in pages])
        for url, raw in pages:
            if outs[url] != self.replay(raw)[0]:
                raise CheckFailed(f"output for {url} differs from the "
                                  f"in-process kernel replay")
        return {"output_digest": _digest(outs.items()) if digest else None}

    def layer_spans(self, tracer: Tracer):
        """Spans around the kernel calls that ``replay`` cannot span
        itself (none unless a workload says otherwise)."""
        return nullcontext()

    def kernel_layers(self, tracer: Tracer, pages) -> None:
        """``replay`` on each sampled page with its layers spanned; the
        output hashes are kept to check against Spark's."""
        self.layer_hashes = {}
        with self.layer_spans(tracer):
            for url, raw in pages:
                with tracer.span("kernel.doc"):
                    out, nodes = self.replay(raw, tracer.span)
                self.layer_hashes[url] = out
                tracer.count("kernel.tokenizer.nodes", nodes)

    def check_layers(self, tbl) -> None:
        hashes = self.row_hashes(tbl, list(self.layer_hashes))
        bad = [u for u, h in self.layer_hashes.items() if hashes[u] != h]
        if bad:
            raise CheckFailed(f"traced kernel replay differs from Spark "
                              f"on {len(bad)} sampled docs")


def _no_span(name):
    return nullcontext()


class ExtractHeavy(_HtmlWorkload):
    name = "extract_heavy"
    stage_layer = "operators.extraction"
    columns = ("extracted_text", "spans", "n_nodes", "n_text_nodes",
               "n_bytes", "error")

    def job(self, spark, handles):
        from simple_html_parser_spark.kernel.extract import PARITY
        from simple_html_parser_spark.operators.extraction import (
            extract_documents)
        df = spark.read.parquet(str(self.data_dir))
        return extract_documents(df, PARITY).toArrow()

    def replay(self, raw: bytes, span=_no_span) -> tuple[str, int]:
        """The job's per-doc path in-process: (output hash, nodes)."""
        from simple_html_parser_spark.kernel.extract import PARITY, extract
        from simple_html_parser_spark.kernel.tokenizer import parse_html
        from simple_html_parser_spark.operators.extraction import (
            MAX_NODES_PER_DOC, _decode)
        with span("kernel.charset"):
            html = _decode(raw)
        with span("kernel.tokenizer"):
            tree = parse_html(html, max_nodes=MAX_NODES_PER_DOC)
        with span("kernel.extract"):
            r = extract(tree, PARITY)
        spans = [{"start": s, "end": e} for s, e in r.spans]
        return _sha([r.text, spans, r.n_nodes, r.n_text_nodes, len(raw),
                     None]), len(tree.type)

    def stage_layers(self, tbl, sample_urls, tracer, counters,
                     metrics) -> None:
        from probe import heaviest_stage
        self.check_layers(tbl)
        kernel_self = tracer.self_times()
        parse_ms = dict(zip(tbl.column("url").to_pylist(),
                            tbl.column("parse_ms").to_pylist()))
        total_ms = sum(parse_ms.values())
        in_proc_ms = 1e3 * (kernel_self.get("kernel.tokenizer", 0)
                            + kernel_self.get("kernel.extract", 0))
        stage_ms, skew = heaviest_stage(counters)
        metrics["operators.extraction.kernel_ms_per_doc"] = \
            total_ms / self.docs
        metrics["operators.extraction.contention_ratio"] = \
            sum(parse_ms[u] for u in sample_urls) / in_proc_ms
        metrics["operators.extraction.boundary_ms_per_doc"] = \
            (stage_ms - total_ms) / self.docs
        metrics["operators.extraction.task_skew"] = skew


# the kernel functions kernel.compat._run_mutation reaches through
# module attributes, by the layer whose span each is timed under
EDIT_LAYER_FNS = {
    "selector": ("query_selector_all", "set_attribute", "update_attribute",
                 "remove_attribute"),
    "manipulate": ("create_node", "append_child", "insert_before",
                   "insert_after", "replace_with", "remove",
                   "find_closing_tag", "insert_adjacent_html"),
    "serialize": ("to_html",),
}


class EditTagdense(_HtmlWorkload):
    name = "edit_tagdense"
    stage_layer = "operators.editing"
    columns = ("ed_len", "ed_sha256", "error")

    def job(self, spark, handles):
        from simple_html_parser_spark.operators.editing import edit_roundtrip
        return edit_roundtrip(spark.read.parquet(str(self.data_dir))) \
            .toArrow()

    def replay(self, raw: bytes, span=_no_span) -> tuple[str, int]:
        """The job's per-doc path in-process: (output hash, nodes)."""
        from simple_html_parser_spark.kernel.compat import _run_mutation
        from simple_html_parser_spark.kernel.tokenizer import parse_html
        from simple_html_parser_spark.operators.editing import EDIT_STEPS
        from simple_html_parser_spark.operators.extraction import (
            MAX_NODES_PER_DOC, _decode)
        with span("kernel.charset"):
            html = _decode(raw)
        with span("kernel.tokenizer"):
            t = parse_html(html, max_nodes=MAX_NODES_PER_DOC)
        nodes = len(t.type)
        out = _run_mutation(t, list(EDIT_STEPS))["html"].encode("utf-8")
        return _sha([len(out), hashlib.sha256(out).hexdigest(), None]), nodes

    def layer_spans(self, tracer: Tracer):
        return spanned(tracer, {
            f"kernel.{layer}": (importlib.import_module(
                f"simple_html_parser_spark.kernel.{layer}"), fns)
            for layer, fns in EDIT_LAYER_FNS.items()})

    def stage_layers(self, tbl, sample_urls, tracer, counters,
                     metrics) -> None:
        from probe import heaviest_stage
        self.check_layers(tbl)
        kernel_self = tracer.self_times()
        quiet = [f"kernel.{layer}" for layer in EDIT_LAYER_FNS
                 if not kernel_self.get(f"kernel.{layer}")]
        if quiet:
            raise CheckFailed(f"the edit replay recorded no {quiet} spans; "
                              f"update EDIT_LAYER_FNS")
        kernel_ms = 1e3 * tracer.total("kernel.doc") / len(sample_urls)
        stage_ms, skew = heaviest_stage(counters)
        metrics["operators.editing.boundary_ms_per_doc"] = \
            stage_ms / self.docs - kernel_ms
        metrics["operators.editing.task_skew"] = skew


# ---- curate_dedup ------------------------------------------------------------

FUNNEL = ("scrub", "gopher", "lang", "quality", "oov", "fluency", "exact",
          "near")
RESULT_COLS = ("doc_id", "pred_lang", "quality_bp", "oov_bp", "fluency_bp",
               "bucket")
GOPHER_KW = {"gopher_min_words": 20, "gopher_stops": ("the", "a")}
# DuckDB inlines a CTE at every reference, and re-evaluates one inside
# every step of the recursive CTE; materializing the CTEs read more than
# once changes the oracle's plan, not its result (5,000 docs, 4 cores:
# 75 s -> 3 s for the result and the funnel)
ORACLE_MATERIALIZED = ("s0", "gm", "s", "toks", "fbg", "flm", "fds", "flu",
                       "shl", "ex", "exf", "sizes", "pairs", "edges", "qb",
                       "lp", "exall", "head", "ost")


def _curate_defaults() -> dict:
    from simple_html_parser_spark.operators.curation import curate_full
    sig = inspect.signature(curate_full).parameters
    return {k: sig[k].default for k in
            ("quality_min_bp", "oov_max_bp", "near_dup_threshold")}


class CurateDedup:
    name = "curate_dedup"

    def __init__(self, data_dir: Path, props: dict, seed: int):
        self.data_dir = data_dir
        self.props = props
        self.seed = seed
        self.docs = props["docs"]
        self.input_bytes = props["bytes"]
        self._oracle = None
        self.oracle()  # before any timing: DuckDB is not the program

    def job(self, spark, handles):
        from simple_html_parser_spark.operators.curation import curate_full
        from simple_html_parser_spark.sources.documents import with_contacts
        docs = spark.read.parquet(str(self.data_dir))
        return curate_full(with_contacts(docs), unpersist_handles=handles,
                           **GOPHER_KW).toArrow()

    def oracle(self) -> tuple[list[tuple], dict]:
        """(curate_full rows, funnel counts) from the DuckDB oracle SQL
        over the same parquet; computed once per generated corpus."""
        if self._oracle is None:
            cache = self.data_dir.parent / "oracle.json"
            if not cache.exists():
                rows, funnel = self._run_oracle()
                cache.write_text(json.dumps({"rows": rows,
                                             "funnel": funnel}))
            got = json.loads(cache.read_text())
            self._oracle = ([tuple(r) for r in got["rows"]], got["funnel"])
        return self._oracle

    def _run_oracle(self) -> tuple[list, dict]:
        import duckdb
        from __spark_entry__ import oracle_sql
        sql = oracle_sql()["curate_full"]
        for name in ORACLE_MATERIALIZED:
            sql, k = re.subn(rf"(\n\s+{name}) AS \(",
                             r"\1 AS MATERIALIZED (", sql)
            if k != 1:
                raise CheckFailed(f"curate_full oracle SQL has {k} CTEs "
                                  f"named {name}; update "
                                  f"ORACLE_MATERIALIZED")
        con = duckdb.connect()
        con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                    f"'{self.data_dir}/part-*.parquet')")
        rows = sorted(con.execute(sql).fetchall())
        head, sep, _ = sql.rpartition("\n        SELECT d.doc_id,")
        if not sep:
            raise CheckFailed("curate_full oracle SQL changed shape; "
                              "update the funnel query")
        d = _curate_defaults()
        docs_in, scrubbed, *stages = con.execute(head + f"""
        SELECT (SELECT count(*) FROM aug),
               (SELECT count(*) FROM aug JOIN s0 USING (doc_id)
                WHERE aug.text <> s0.text),
               (SELECT count(*) FROM s),
               count(*) FILTER (WHERE l),
               count(*) FILTER (WHERE l AND q),
               count(*) FILTER (WHERE l AND q AND o),
               count(*) FILTER (WHERE l AND q AND o AND f),
               count(*) FILTER (WHERE l AND q AND o AND f AND e),
               count(*) FILTER (WHERE l AND q AND o AND f AND e AND n)
        FROM (SELECT lp.pred_lang = d.lang AS l,
                     qb.quality_bp >= {d['quality_min_bp']} AS q,
                     ost.oov_bp <= {d['oov_max_bp']} AS o,
                     flu.bucket <> 'tail' AS f,
                     d.doc_id IN (SELECT doc_id FROM keepers) AS e,
                     d.doc_id NOT IN (SELECT doc_id FROM losers) AS n
              FROM s d JOIN lp USING (doc_id) JOIN qb USING (doc_id)
              JOIN ost USING (doc_id) JOIN flu USING (doc_id))""").fetchone()
        con.close()
        return rows, {"docs_in": docs_in, "scrubbed": scrubbed,
                      **dict(zip(FUNNEL, [docs_in] + stages))}

    def _rows(self, tbl) -> list[tuple]:
        return sorted(zip(*(tbl.column(c).to_pylist() for c in RESULT_COLS)))

    def failed_docs(self, tbl) -> int:
        """rows missing from, or not in, the oracle's result."""
        want = set(self.oracle()[0])
        got = set(self._rows(tbl))
        return len(want ^ got)

    def check(self, tbl, digest: bool) -> dict:
        rows, funnel = self.oracle()
        got = self._rows(tbl)
        if got != rows:
            raise CheckFailed(
                f"curate_full differs from the DuckDB oracle: "
                f"{len(set(got) ^ set(rows))} rows")
        n = funnel["docs_in"]
        if not 0 < funnel["scrubbed"] < n:
            raise CheckFailed(f"scrub changed {funnel['scrubbed']} of {n} "
                              f"texts (want some, not all)")
        for prev, stage in zip(FUNNEL, FUNNEL[1:]):
            if not 0 < funnel[prev] - funnel[stage] < funnel[prev]:
                raise CheckFailed(f"funnel stage {stage} keeps "
                                  f"{funnel[stage]} of {funnel[prev]}")
        return {"output_digest": _digest((r[0], _sha(r)) for r in got),
                "funnel": funnel}

    def operator_layers(self, spark, tracer: Tracer, metrics: dict) -> None:
        """Each curation operator materialized on its own, spanned, and
        the funnel counted stage by stage (must equal the oracle's)."""
        from pyspark.sql import functions as F
        from simple_html_parser_spark.operators import (
            dedup as D, fluency, gopher, pii, textstats as T)
        from simple_html_parser_spark.sources.documents import with_contacts
        d = _curate_defaults()
        span = tracer.span
        sc = spark.sparkContext
        held = []

        def keep(df):
            df = df.persist()
            held.append(df)
            return df, df.count()

        docs = with_contacts(spark.read.parquet(str(self.data_dir)))
        with span("operators.pii.scrub"):
            docs2, n_scrub = keep(docs.select(
                "doc_id", "lang", pii.scrub_col(F.col("text")).alias("text")))
        with span("operators.gopher.filter"):
            docs3, n_gopher = keep(gopher.gopher_filter(
                docs2, min_words=GOPHER_KW["gopher_min_words"],
                stops=GOPHER_KW["gopher_stops"]))
        with span("operators.textstats.oov_stats"):
            oov, _ = keep(T.oov_stats(docs3).select("doc_id", "oov_bp"))
        with span("operators.fluency.lm_fluency"):
            flu, _ = keep(fluency.lm_fluency(
                docs3.select("doc_id", "text", "lang"),
                unpersist_handles=held).select("doc_id", "bucket"))
        with span("operators.dedup.dedup_exact"):
            exact, _ = keep(D.dedup_exact(docs3).select("doc_id"))
        with span("operators.dedup.dedup_clusters"):
            pairs, n_pairs = keep(D.dedup_minhash_lsh(
                docs3, threshold=d["near_dup_threshold"],
                max_shingle_df="auto", unpersist_handles=held))
            sc.setJobGroup("dedup_clusters", "clustering")
            clusters, _ = keep(D.dedup_clusters(
                docs3, threshold=d["near_dup_threshold"],
                max_shingle_df="auto", pairs=pairs,
                unpersist_handles=held))
            sc.setJobGroup("layers", "per-operator layers")
        cluster_jobs = len(sc.statusTracker()
                           .getJobIdsForGroup("dedup_clusters"))
        losers = clusters.where(F.col("doc_id") != F.col("cluster_id")) \
            .select("doc_id", F.lit(True).alias("_loser"))
        base = (docs3.withColumn("_toks", D.tokens_col())
                .select("doc_id", "lang",
                        T.pred_lang_struct(F.col("_toks"))["lang"]
                        .alias("pred_lang"),
                        T.quality_cols(F.col("text"))["quality_bp"]
                        .alias("quality_bp"))
                .join(oov, "doc_id").join(flu, "doc_id")
                .join(exact.select("doc_id", F.lit(True).alias("_keep")),
                      "doc_id", "left")
                .join(losers, "doc_id", "left"))
        conds = [F.col("pred_lang") == F.col("lang"),
                 F.col("quality_bp") >= d["quality_min_bp"],
                 F.col("oov_bp") <= d["oov_max_bp"],
                 F.col("bucket") != "tail",
                 F.col("_keep").isNotNull(),
                 F.col("_loser").isNull()]
        aggs, acc = [], F.lit(True)
        for c in conds:
            acc = acc & c
            aggs.append(F.sum(F.when(acc, 1).otherwise(0)))
        counts = [n_scrub, n_gopher] + list(base.agg(*aggs).first())
        for df in held:
            df.unpersist()
        funnel = dict(zip(FUNNEL, counts))
        want = {k: self.oracle()[1][k] for k in FUNNEL}
        if funnel != want:
            raise CheckFailed(f"Spark funnel {funnel} != oracle {want}")
        for stage, n in funnel.items():
            metrics[f"operators.curation.docs_out.{stage}"] = n
        metrics["operators.dedup.near_dup_pairs"] = n_pairs
        metrics["operators.dedup.cluster_jobs"] = cluster_jobs
        for key, sp in (("operators.pii.scrub_s", "operators.pii.scrub"),
                        ("operators.gopher.filter_s",
                         "operators.gopher.filter"),
                        ("operators.textstats.oov_stats_s",
                         "operators.textstats.oov_stats"),
                        ("operators.fluency.lm_fluency_s",
                         "operators.fluency.lm_fluency"),
                        ("operators.dedup.dedup_exact_s",
                         "operators.dedup.dedup_exact"),
                        ("operators.dedup.dedup_clusters_s",
                         "operators.dedup.dedup_clusters")):
            metrics[key] = tracer.total(sp)


WORKLOADS = {w.name: w for w in (ExtractHeavy, EditTagdense, CurateDedup)}
