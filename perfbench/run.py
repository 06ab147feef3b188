"""Repository benchmark: seeded extract / edit / curate workloads.

    python3 perfbench/run.py --workload extract_heavy --seed 0 \\
        --seconds 6 --trace 0

Run from the repository root.  One run: record the host control,
replay the kernel goldens, generate (or reuse) the seeded corpus, start
Spark through ``runtime.session.get_spark`` at local[<cores>], set up
(session start + one unmeasured run of the job), then time the job for
``--seconds`` (at least one run), check the outputs and print one JSON
line.  ``--trace 1`` runs the same thing,
then restarts the session with the Spark event log on, times the job
again with spans, adds the per-layer measurements and prints those
instead of the end-to-end metrics.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import probe  # noqa: E402
from workloads import WORKLOADS, KERNEL_SAMPLE, CheckFailed  # noqa: E402

DEFAULT_SEED = 0
HOST_CONTROL_SPINS = 100_000
# the program files this benchmark drives; absent means no program here
REQUIRED = ("simple_html_parser_spark/runtime/session.py", "bench.py",
            "__spark_entry__.py", "fixtures/goldens.jsonl",
            "tools/fixture_corpus.py")


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


def check_goldens() -> int:
    """Replay fixtures/goldens.jsonl through kernel.compat.run_case."""
    from fixture_corpus import CASES
    from simple_html_parser_spark.kernel.compat import run_case
    goldens = {}
    with (ROOT / "fixtures" / "goldens.jsonl").open(encoding="utf-8") as f:
        for line in f:
            g = json.loads(line)
            goldens[g["id"]] = g
    if set(goldens) != {c["id"] for c in CASES}:
        raise CheckFailed("goldens and fixture cases disagree on ids")
    for case in CASES:
        want, got = goldens[case["id"]], run_case(case)
        same = all(got[k] == want[k]
                   for k in ("dump", "to_html", "to_html_comments"))
        ops_ok = len(got["ops"]) == len(want["ops"]) and all(
            ("error" in a) if "error" in b else a == b
            for a, b in zip(got["ops"], want["ops"]))
        if not (same and ops_ok):
            raise CheckFailed(f"golden case {case['id']} differs")
    return len(CASES)


def corpus(workload: str, seed: int) -> tuple[Path, dict]:
    """The seeded corpus, generated once per (workload, seed, generator
    source)."""
    version = hashlib.sha256(Path(gen.__file__).read_bytes()).hexdigest()
    out = WORK / "corpus" / f"{workload}-{seed}-{version[:12]}"
    props_file = out / "props.json"
    if props_file.exists():
        return out / "data", json.loads(props_file.read_text())
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.perf_counter()
    props = gen.generate(workload, seed, out)
    props_file.write_text(json.dumps(props, indent=1))
    log(f"generated {workload} seed {seed} in "
        f"{time.perf_counter() - t0:.1f}s: {props['docs']} docs, "
        f"{props['bytes'] / 1e6:.1f} MB")
    return out / "data", props


class Bench:
    """One workload's Spark session: start, timed runs, clean-up."""

    def __init__(self, wl, cores: int):
        self.wl = wl
        self.cores = cores
        self.spark = None

    def start(self, event_log: Path | None = None):
        from simple_html_parser_spark.runtime.session import get_spark
        if self.spark is not None:
            self.spark.stop()
        tmp = WORK / "tmp"
        confs = {
            # keep every file the run writes inside the checkout
            "spark.local.dir": str(WORK / "spark-local"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
        if event_log is not None:
            event_log.mkdir(parents=True, exist_ok=True)
            confs.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.logBlockUpdates.enabled": "true",
            })
        self.spark = get_spark(master=f"local[{self.cores}]",
                               extra_confs=confs)
        self.jvm = probe.jvm_pid_of(self.spark)
        return self.spark

    def run_job(self, group: str):
        """One run of the workload's job, its cached frames released."""
        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        handles: list = []
        try:
            return self.wl.job(self.spark, handles)
        finally:
            for h in handles:
                h.unpersist()

    def release_rest(self) -> int:
        """Count RDDs still persisted after the job released its
        handles, then free them so the next run starts clean."""
        rdds = self.spark.sparkContext._jsc.getPersistentRDDs()
        left = rdds.size()
        for rdd in list(rdds.values()):
            rdd.unpersist(True)
        self.spark.catalog.clearCache()
        return left

    def measure(self, seconds: float, prefix: str, tracer) -> dict:
        walls, cpus, failed, groups, left = [], [], 0, [], []
        t_end = time.perf_counter() + seconds
        tbl = None
        while not walls or time.perf_counter() < t_end:
            group = f"{prefix}{len(walls)}"
            c0 = probe.tree_cpu_s(self.jvm)
            t0 = time.perf_counter()
            with tracer.span("workload.job"):
                tbl = self.run_job(group)
            walls.append(time.perf_counter() - t0)
            cpus.append(probe.tree_cpu_s(self.jvm) - c0)
            left.append(self.release_rest())
            failed += self.wl.failed_docs(tbl)
            groups.append(group)
        launched, task_failed = probe.task_counts(self.spark, groups)
        return {"walls": walls, "cpus": cpus, "failed": failed,
                "groups": groups, "tasks": launched,
                "task_failed": task_failed, "persisted_after": left,
                "result": tbl,
                "py_rss_mb": probe.py_worker_peak_rss_mb(self.jvm),
                "jvm_rss_mb": probe.vm_hwm_mb(self.jvm)}


def end_to_end(wl, setup_s: float, m: dict) -> dict:
    wall = statistics.median(m["walls"])
    cpu = statistics.median(m["cpus"])
    attempted = wl.docs * len(m["walls"])
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        "mb_per_s": (wl.input_bytes / 1e6 / wall, "MB/s"),
        "cpu_ms_per_doc": (1e3 * cpu / wl.docs, "ms"),
        "doc_ok_ratio": (1 - m["failed"] / attempted, "ratio"),
        "task_ok_ratio": (1 - m["task_failed"] / max(m["tasks"], 1),
                          "ratio"),
    }


def per_layer(b: Bench, tracer, traced: dict, untraced: dict,
              event_log: Path) -> dict:
    """The traced run's layer metrics; every name on every workload, a
    layer the workload never calls reporting 0."""
    wl = b.wl
    metrics: dict = {}
    n_sample = 0
    if hasattr(wl, "kernel_layers"):
        pages = wl.pages(wl.sample(KERNEL_SAMPLE, "kernel"))
        n_sample = len(pages)
        wl.kernel_layers(probe.Tracer("warm", True), pages)  # warm-up
        with tracer.span("kernel.sample"):
            wl.kernel_layers(tracer, pages)
    if hasattr(wl, "operator_layers"):
        b.spark.sparkContext.setJobGroup("layers", "per-operator layers")
        wl.operator_layers(b.spark, tracer, metrics)
    selfs = tracer.self_times()
    groups = traced["groups"]
    b.spark.stop()
    b.spark = None
    logs = [p for p in event_log.iterdir() if p.is_file()]
    counters = probe.read_event_log(max(logs, key=os.path.getmtime),
                                    groups)
    last = counters[groups[-1]]
    if n_sample:
        tok = selfs["kernel.tokenizer"]
        sample_bytes = sum(len(raw) for _, raw in pages)
        metrics.update({
            "kernel.charset.decode_ms_per_doc":
                1e3 * selfs["kernel.charset"] / n_sample,
            "kernel.tokenizer.parse_ms_per_doc": 1e3 * tok / n_sample,
            "kernel.tokenizer.mb_per_s_per_core": sample_bytes / 1e6 / tok,
            "kernel.tokenizer.nodes_per_doc":
                tracer.counts["kernel.tokenizer.nodes"] / n_sample,
        })
        for layer in ("extract", "selector", "manipulate", "serialize"):
            metrics[f"kernel.{layer}.ms_per_doc"] = \
                1e3 * selfs.get(f"kernel.{layer}", 0.0) / n_sample
        wl.stage_layers(traced["result"], [u for u, _ in pages], tracer,
                        last, metrics)
        metrics[f"{wl.stage_layer}.py_worker_peak_rss_mb"] = \
            traced["py_rss_mb"]

    def med(key):
        return statistics.median(counters[g][key] for g in groups)

    metrics.update({
        "runtime.session.jobs": med("jobs"),
        "runtime.session.stages": statistics.median(
            len(counters[g]["stages"]) for g in groups),
        "runtime.session.tasks": med("tasks"),
        "runtime.session.input_mb": med("input") / 1e6,
        "runtime.session.shuffle_write_mb": med("shuffle_write") / 1e6,
        "runtime.session.shuffle_read_mb": med("shuffle_read") / 1e6,
        "runtime.session.spill_mb": med("spill") / 1e6,
        "runtime.session.cached_mb_peak": med("cached_peak") / 1e6,
        "runtime.session.persisted_rdds_after":
            max(traced["persisted_after"]),
        "runtime.session.jvm_peak_rss_mb": traced["jvm_rss_mb"],
        "trace.overhead_s": statistics.median(traced["walls"])
        - statistics.median(untraced["walls"]),
    })
    return {k: metrics.get(k, 0) for k in PER_LAYER}


def _per_layer_units() -> dict[str, str]:
    spec = ROOT / "BENCHMARK.json"
    if not spec.exists():
        return {}
    return {m["name"]: m["unit"]
            for m in json.loads(spec.read_text())["per_layer"]}


PER_LAYER = _per_layer_units()


def stop_spark() -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def driver_memory_note(confs: dict) -> str | None:
    """The shipped spark.driver.memory against this host's RAM."""
    mem = confs.get("spark.driver.memory", "")
    host_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    if mem.endswith("g") and int(mem[:-1]) > host_gib:
        return (f"spark.driver.memory={mem} exceeds host RAM "
                f"{host_gib:.1f} GiB")
    return None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not (ROOT / p).exists()]
    if missing or not PER_LAYER:
        log(f"no program to benchmark here (missing: {missing})")
        return 2
    sys.path[:0] = [str(ROOT), str(ROOT / "tools")]
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    import bench

    run_id = f"{args.workload}-{args.seed}-{int(time.time() * 1e3)}"
    cores = len(os.sched_getaffinity(0))
    log(f"{args.workload} seed {args.seed} trace {args.trace}")
    record = {"run": run_id, "workload": args.workload, "seed": args.seed,
              "trace": args.trace, "cores": cores,
              "host_control_before": bench._host_control(HOST_CONTROL_SPINS),
              "host_spin_s_before": bench._ctl_spin(HOST_CONTROL_SPINS)}
    tracer = probe.Tracer(run_id, enabled=bool(args.trace))
    problems = []
    try:
        record["goldens"] = check_goldens()
        log(f"{record['goldens']} golden cases match")
        data_dir, props = corpus(args.workload, args.seed)
        record["inputs"] = props
        wl = WORKLOADS[args.workload](data_dir, props, args.seed)
        b = Bench(wl, cores)
        t0 = time.perf_counter()
        b.start()
        b.run_job("setup")
        setup_s = time.perf_counter() - t0
        b.release_rest()
        log(f"setup {setup_s:.2f}s")
        record["confs"] = dict(b.spark.sparkContext.getConf().getAll())
        record["driver_memory_note"] = driver_memory_note(record["confs"])
        if record["driver_memory_note"]:
            log(f"note: {record['driver_memory_note']}")
        m = b.measure(args.seconds, "m", probe.Tracer(run_id, False))
        log(f"walls {[round(w, 3) for w in m['walls']]}")
        record.update(setup_s=setup_s, walls=m["walls"], cpus=m["cpus"])
        checked = wl.check(m["result"], digest=args.seed == DEFAULT_SEED)
        record.update(checked)
        log("outputs checked")
        if args.seed == DEFAULT_SEED:
            pinned = json.loads((HERE / "digests.json").read_text())
            if pinned.get(args.workload) != checked["output_digest"]:
                raise CheckFailed(
                    f"output digest {checked['output_digest']} != pinned "
                    f"{pinned.get(args.workload)} for the default seed")
        metrics = {k: {"value": v, "unit": u}
                   for k, (v, u) in end_to_end(wl, setup_s, m).items()}
        attempted = wl.docs * len(m["walls"])
        failed = m["failed"]
        if args.trace:
            ev = WORK / "eventlog" / run_id
            b.start(event_log=ev)
            b.run_job("tsetup")
            b.release_rest()
            t = b.measure(args.seconds, "t", tracer)
            layer = per_layer(b, tracer, t, m, ev)
            shutil.rmtree(ev, ignore_errors=True)
            spans = WORK / "trace" / f"{run_id}.jsonl"
            tracer.write(spans)
            log(f"spans: {spans}; tracing overhead "
                f"{layer['trace.overhead_s']:+.3f}s on wall_s")
            metrics = {k: {"value": v, "unit": PER_LAYER[k]}
                       for k, v in layer.items()}
        if failed:
            problems.append(f"{failed} failed docs")
    except CheckFailed as e:
        problems.append(str(e))
        metrics, attempted, failed = {}, 1, 1
    finally:
        stop_spark()
    log("spark stopped")
    record["host_control_after"] = bench._host_control(HOST_CONTROL_SPINS)
    # the control above is a ratio and stays near 1.0 when every core
    # slows alike; the single-core spin time shows that case
    record["host_spin_s_after"] = bench._ctl_spin(HOST_CONTROL_SPINS)
    record["problems"] = problems
    record["metrics"] = metrics
    with (WORK / "runs.jsonl").open("a") as f:
        f.write(json.dumps(record, default=str) + "\n")
    for p in problems:
        log(f"CHECK FAILED: {p}")
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
