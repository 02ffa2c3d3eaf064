"""KG-pipeline benchmark.

    python3 perfbench/run.py --workload kg_batch_gazetteer --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

Run from the repository root. Each workload runs the package's public KG
entry points at ``local[4]`` in one driver process, closed loop (one
pipeline pass at a time on a fixed input per seed), and checks every
pass's outputs against the pure-Python twin.

``--trace 0`` prints the end-to-end metrics: ``pages_per_s`` (median over
the passes of one run) and ``setup_s`` (median of five set-ups, each a
fresh session, input generation and load, and checkpoint build). One
discarded warm-up pass follows the last set-up, before the timed passes.
Peak resident memory of the process tree is printed as a line, not
reported: across seeds it did not repeat within a tenth.
``--trace 1`` runs one session with Spark's event log on: a warm-up pass,
an untraced pass (the overhead reference), one traced pass, then the
companions (the other batch variant, ``resume_run`` and
``streaming_triples``) traced on the same inputs, and prints every
per-layer metric. A layer's numbers come from the workload's own pass
when it runs the layer, else from the companion that does.

The last line of standard output is one JSON object with ``correct``,
``attempted`` (passes run, warm-ups included), ``failed`` (passes that
raised or produced a wrong output) and ``metrics``. Scratch files go under
``perfbench/_work/``; the spans of traced runs are kept in
``perfbench/_work/spans/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "bert_namedentityrecognition_spark"
N_SETUPS = 5
CORES = 4
COMPANION_CUTOFF_S = 130  # a traced run starts no companion after this
WORKLOAD_NAMES = ("kg_batch_gazetteer", "kg_batch_bert")

LAYERS = (
    "tagger", "ner", "normalize", "canonicalize", "triples.pairs",
    "triples.count", "triples.graph", "pipeline.sink", "ledger", "stream",
)
BASE_METRICS = (
    ("wall_s", "s"), ("rows_in", "count"), ("rows_out", "count"),
    ("executor_s", "s"), ("python_s", "s"),
    ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
)
# layers that run no Python worker on these workloads (normalize takes its
# driver path: surfaces are resolved in-process, then joined)
NO_PYTHON = {
    "normalize", "canonicalize", "triples.pairs", "triples.count", "triples.graph", "pipeline.sink",
}
EXTRA_METRICS = {
    "ner": (("forward_calls", "count"), ("tokens_real", "count"),
            ("tokens_padded", "count"), ("pad_useful_ratio", "ratio")),
    "normalize": (("distinct_surfaces", "count"), ("exact_share", "ratio"),
                  ("fuzzy_share", "ratio"), ("sentinel_share", "ratio"),
                  ("driver_path", "flag")),
    "pipeline.sink": (("bytes_written", "bytes"), ("files", "count")),
    "ledger": (("commits", "count"), ("bucket_wall_p50_s", "s"), ("rerun_s", "s")),
    "stream": (("batches", "count"), ("state_rows", "count"),
               ("state_bytes", "bytes"), ("microbatch_s", "s")),
}


def layer_metric_units() -> dict[str, str]:
    """Every per-layer metric name → unit, in report order."""
    out = {}
    for layer in LAYERS:
        for m, unit in BASE_METRICS:
            if m == "python_s" and layer in NO_PYTHON:
                continue
            out[f"{layer}.{m}"] = unit
        for m, unit in EXTRA_METRICS.get(layer, ()):
            out[f"{layer}.{m}"] = unit
    out["session.wall_s"] = "s"
    out["trace.coverage"] = "ratio"
    out["trace.overhead_s"] = "s"
    return out


def log(msg: str) -> None:
    print(msg, flush=True)


class Harness:
    """Owns the Spark session, the JVM and the scratch directory of one run."""

    def __init__(self, workload: str, seed: int):
        self.work = os.path.join(HERE, "_work", f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("tmp", "local", "warehouse", "eventlog"):
            os.makedirs(os.path.join(self.work, d))
        # before the JVM starts: executors import the package from the
        # checkout, and Spark, the JVM and Python keep scratch inside it
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        self.spark = None

    def start(self, event_log: bool = False):
        from bert_namedentityrecognition_spark.plans.session import build_session

        conf = {
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData"
            ),
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true" if event_log else "false",
            "spark.eventLog.dir": "file://" + os.path.join(self.work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
        self.spark = build_session(
            app_name="kg-bench", cores=CORES, extra_conf=conf,
            warehouse_dir=os.path.join(self.work, "warehouse"),
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session, end the JVM and wait for every child process."""
        from pyspark import SparkContext

        from perfbench.trace import descendants

        self.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.time() + 30
        while descendants(os.getpid()) and time.time() < deadline:
            time.sleep(0.1)

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)


def checked_pass(wl, spark, tally: dict, tracer=None) -> dict | None:
    """Run and verify one pass; a raise or a wrong output counts as failed."""
    tally["attempted"] += 1
    result = None
    try:
        result = wl.run(spark, tracer)
        errors = wl.verify(spark, result)
    except Exception:
        errors = [traceback.format_exc()]
    if errors:
        tally["failed"] += 1
        for e in errors:
            log(f"  WRONG [{wl.name}] {e}")
        if result is not None:
            wl.release(spark, result)
        return None
    return result


def setup(h: Harness, wl, seed: int):
    from perfbench.corpus import generate

    t0 = time.perf_counter()
    spark = h.start()
    corpus = generate(seed, wl.n_pages)
    wl.prepare(spark, corpus)
    return spark, corpus, t0


def run_untraced(h: Harness, wl, seed: int, seconds: float, tally: dict) -> dict:
    from perfbench.corpus import generate
    from perfbench.trace import tree_peak_rss_mb

    t0 = time.perf_counter()
    twin = wl.expect(generate(seed, wl.n_pages))
    log(f"twin built in {time.perf_counter() - t0:.2f} s")
    setup_s = []
    for k in range(N_SETUPS):
        if k:
            h.stop()
        spark, corpus, t0 = setup(h, wl, seed)
        setup_s.append(time.perf_counter() - t0)
        log(f"setup {k + 1}: {setup_s[-1]:.3f} s")
    # one discarded warm-up pass in the last session; a wrong output counts
    t0 = time.perf_counter()
    warm = checked_pass(wl, spark, tally)
    log(f"warm-up pass: {time.perf_counter() - t0:.3f} s")
    if warm is not None:
        wl.release(spark, warm)
    describe(wl, corpus, twin)
    rates = []
    start = time.perf_counter()
    while time.perf_counter() - start < seconds or not rates:
        res = checked_pass(wl, spark, tally)
        if res is None:
            if time.perf_counter() - start >= seconds:
                break
            continue
        rates.append(wl.n_pages / res["wall"])
        log(f"pass {len(rates)}: {res['wall']:.3f} s, {rates[-1]:.1f} pages/s")
        wl.release(spark, res)
    peak = tree_peak_rss_mb(os.getpid())
    metrics = {
        "pages_per_s": (statistics.median(rates) if rates else 0.0, "pages/s"),
        "setup_s": (statistics.median(setup_s), "s"),
    }
    log(f"pages_per_s {metrics['pages_per_s'][0]:.2f} pages/s (median of {len(rates)} passes)")
    log(f"setup_s {metrics['setup_s'][0]:.3f} s (median of {len(setup_s)} set-ups)")
    log(f"peak_rss_mb {peak:.1f} MB")
    return metrics


def run_traced(h: Harness, wl, seed: int, tally: dict) -> dict:
    from perfbench.corpus import generate
    from perfbench.trace import Tracer, attribute_event_log, find_event_log

    started = time.perf_counter()
    twin = wl.expect(generate(seed, wl.n_pages))
    t0 = time.time()
    spark = h.start(event_log=True)
    session = {"id": -1, "name": "session", "parent": None, "run": f"{wl.name}-{seed}",
               "start": t0, "end": time.time()}
    corpus = generate(seed, wl.n_pages)
    wl.prepare(spark, corpus)
    untraced = None
    for _ in range(2):  # warm-up, then the untraced reference pass
        res = checked_pass(wl, spark, tally)
        if res is not None:
            untraced = res["pass_wall"]
            wl.release(spark, res)
    tr = Tracer(spark.sparkContext, f"{wl.name}-{seed}")
    traced = checked_pass(wl, spark, tally, tracer=tr)
    if traced is not None:
        counters = wl.counters(spark, traced)
        wl.release(spark, traced)
        for comp in wl.companions(spark):
            if time.perf_counter() - started > COMPANION_CUTOFF_S:
                log(f"skipped companion {comp.name}: the run must end within 180 s")
                continue
            res = checked_pass(comp, spark, tally, tracer=tr)
            if res is not None:
                for k, v in comp.counters(spark, res).items():
                    counters.setdefault(k, v)  # the workload's own pass wins
                comp.release(spark, res)
    describe(wl, corpus, twin)
    h.stop()
    metrics = {name: (0.0, unit) for name, unit in layer_metric_units().items()}
    metrics["session.wall_s"] = (session["end"] - session["start"], "s")
    if traced is None:
        return metrics
    spans = [session] + tr.spans
    os.makedirs(os.path.join(HERE, "_work", "spans"), exist_ok=True)
    with open(os.path.join(HERE, "_work", "spans", f"{wl.name}-seed{seed}.jsonl"), "w") as f:
        f.writelines(json.dumps(s) + "\n" for s in spans)
    numbers = attribute_event_log(find_event_log(os.path.join(h.work, "eventlog")), spans)
    seen = set()
    for s in tr.spans:
        if s["parent"] is None or s["name"] == "ledger.rerun" or s["name"] in seen:
            continue  # roots; the rerun is ledger.rerun_s; the own pass wins
        seen.add(s["name"])
        metrics[f"{s['name']}.wall_s"] = (s["end"] - s["start"], "s")
        for k in ("rows_in", "rows_out"):
            if k in s:
                metrics[f"{s['name']}.{k}"] = (s[k], "count")
        for k, v in numbers.get(s["id"], {}).items():
            if f"{s['name']}.{k}" in metrics:
                metrics[f"{s['name']}.{k}"] = (v, metrics[f"{s['name']}.{k}"][1])
    sink = next(s for s in tr.spans if s["name"] == "pipeline.sink")
    metrics["pipeline.sink.rows_out"] = (numbers.get(sink["id"], {}).get("records_written", 0), "count")
    for k, v in counters.items():
        metrics[k] = (v, metrics[k][1])
    root = traced["root"]
    layer_wall = sum(s["end"] - s["start"] for s in tr.children(root))
    metrics["trace.coverage"] = (layer_wall / (root["end"] - root["start"]), "ratio")
    metrics["trace.overhead_s"] = (traced["pass_wall"] - (untraced or 0.0), "s")
    for name, (v, unit) in metrics.items():
        log(f"{name} {v:.6g} {unit}")
    return metrics


def describe(wl, corpus: dict, twin_desc: dict | None) -> None:
    d = {"workload": wl.name, "pages": wl.n_pages, **{f"share.{k}": v for k, v in corpus["shares"].items()},
         "duplicate_sentence_share": round(corpus["duplicate_sentence_share"], 4),
         **{f"dictionary.{k}": v for k, v in corpus["dictionary"].items()},
         **(twin_desc or {}), **wl.descriptors()}
    log("descriptors " + json.dumps(d, sort_keys=True))


def run_one(args) -> int:
    sys.path.insert(0, ROOT)
    h = Harness(args.workload, args.seed)
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload](h.work, args.seed)
    tally = {"attempted": 0, "failed": 0}
    try:
        if args.trace:
            metrics = run_traced(h, wl, args.seed, tally)
        else:
            metrics = run_untraced(h, wl, args.seed, args.seconds, tally)
    finally:
        h.shutdown()
        h.cleanup()
    log(f"error_rate {tally['failed'] / max(1, tally['attempted']):.4f} "
        f"({tally['failed']} of {tally['attempted']} passes)")
    print(json.dumps({
        "correct": tally["failed"] == 0,
        "attempted": tally["attempted"],
        "failed": tally["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


def run_all(args) -> int:
    """Every workload in its own process; prints each one's result."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        if proc.returncode != 0 or not lines:
            log(f"{name}: exit code {proc.returncode}")
            return proc.returncode or 1
        res = json.loads(lines[-1])
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            merged["metrics"][f"{name}.{k}"] = v
    print(json.dumps(merged), flush=True)
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: package {PACKAGE!r} not found under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
