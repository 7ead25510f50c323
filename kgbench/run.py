#!/usr/bin/env python3
"""kgbench — the benchmark of the pages → nodes/edges job.

    python3 kgbench/run.py --workload kg_full --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Workloads (closed loop, one operation at
a time, one process, a Spark session of `local[nproc]`):

- kg_full:  run_pipeline over the seeded pages, fresh checkpoint each time;
- kg_delta: restore a checkpoint of the first 15/16 of the pages (untimed),
            then run_pipeline(incremental=True) over all of them.

Every operation's output is checked (see the gate_* functions); a failed
check counts the operation as failed. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json; with --trace 1 a
separate traced run prints the per-layer ones, each with the end-to-end
metric and workload it is expected to move (kgbench/layers.json).

Scratch state lives in .kgbench_work/ under the checkout. The mined model
the kg_* workloads use is built there once per checkout and source digest
(its build is timed and logged, not counted in setup_s).
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.getcwd()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(ROOT, ".kgbench_work")

SIZES = {
    # pages: seeded crawl, written as `files` parquet files (> cores, like a
    # crawl segment); annotated: the seeded corpus the traced run mines;
    # profile_docs: the page sample the traced run tags in-process
    "full": {"pages": 10000, "files": 16, "annotated": 60,
             "profile_docs": 500},
    "tiny": {"pages": 320, "files": 16, "annotated": 60,
             "profile_docs": 50},
}

# The model of the kg_* workloads: jobs/train.py default parameters over the
# fixture generator's default training corpus (seed 42, 500 lines).
MODEL_PARAMS = {"min_support_frac": 0.02, "max_len": 6, "min_support": 3,
                "min_confidence": 0.5, "topk_per_context": 3}
MODEL_CORPUS = {"n_pages": 500, "n_annotated": 500, "seed": 42}
# The traced run's mining layers: the same parameters with a support
# threshold high enough to fit a run (the defaults take > 70 s on any corpus
# size, see layers.json).
MINING_PARAMS = dict(MODEL_PARAMS, min_support_frac=0.1)

# A fixed, pre-touched driver heap: with a growable one the JVM's resident
# size follows GC timing and peak_rss_mb wandered by ±30% between runs.
DRIVER_HEAP = "1g"


# ------------------------------------------------------------------ gates


def prf(got: set, gold: set) -> tuple[float, float]:
    """Precision and recall of distinct (subj, pred, obj, url) tuples."""
    tp = len(got & gold)
    return tp / max(len(got), 1), tp / max(len(gold), 1)


def gate_kg_full(got: set, gold: set) -> bool:
    """kg_full: the committed triples are exactly the planted gold."""
    return bool(gold) and got == gold


def gate_kg_delta(rows: dict, triples: set, ref_rows: dict,
                  ref_triples: set) -> bool:
    """kg_delta: detect/triples/edges/nodes row counts and the distinct
    triple set equal those of a fresh full run over all pages."""
    return bool(ref_triples) and rows == ref_rows and triples == ref_triples


# --------------------------------------------------------------- plumbing


def log(msg: str) -> None:
    print(f"[kgbench] {msg}", file=sys.stderr, flush=True)


def measure(seconds: float, op) -> list[dict]:
    """Closed loop: run `op` until `seconds` have passed (at least once).
    An op that raises is recorded as failed and the loop goes on."""
    recs: list[dict] = []
    t0 = time.perf_counter()
    while not recs or time.perf_counter() - t0 < seconds:
        try:
            recs.append(op())
        except Exception:  # noqa: BLE001 - one failed op must not end the run
            traceback.print_exc(file=sys.stderr)
            recs.append({"ok": False})
    return recs


def source_digest() -> str:
    """Digest of everything the cached model depends on."""
    h = hashlib.sha256(json.dumps([MODEL_PARAMS, MODEL_CORPUS]).encode())
    for path in sorted(glob.glob(os.path.join(ROOT, "mxsparkg", "*.py"))
                       + [os.path.join(ROOT, "fixtures", "generate.py")]):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def read_rows(path: str) -> list[dict]:
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pylist()


class Bench:
    """One benchmark process: its scratch dirs, Spark session and inputs."""

    def __init__(self, args):
        self.args = args
        self.size = SIZES[args.size]
        self.cores = len(os.sched_getaffinity(0))
        self.run_dir = os.path.join(WORK, f"run-{os.getpid()}")
        self.spark = None
        self.elog = None
        self.trace_spans = None
        os.makedirs(self.run_dir, exist_ok=True)
        # everything Spark, the JVM and the Python workers write stays in
        # the checkout
        tmp = os.path.join(self.run_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.run_dir, "local")
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep)
        import tempfile

        tempfile.tempdir = tmp

    # -------------------------------------------------------------- spark

    def start_spark(self, cores: int) -> None:
        from mxsparkg.session import get_spark

        from kgbench.eventlog import EventLog

        ev_dir = os.path.join(self.run_dir, "eventlog")
        os.makedirs(ev_dir, exist_ok=True)
        self.spark = get_spark(
            master=f"local[{cores}]",
            app_name="kgbench",
            extra_conf={
                "spark.driver.memory": DRIVER_HEAP,
                "spark.driver.extraJavaOptions":
                    f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch",
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": ev_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.sql.warehouse.dir": os.path.join(self.run_dir, "wh"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.elog = EventLog(self.spark, ev_dir)

    def stop_spark(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def close(self) -> None:
        """Stop Spark, end the JVM and wait for it, drop the scratch dir."""
        from pyspark import SparkContext

        self.stop_spark()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()  # the JVM exits when its stdin closes
            gw.proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        shutil.rmtree(self.run_dir, ignore_errors=True)

    # -------------------------------------------------------------- inputs

    def generate(self) -> None:
        """Seeded inputs: the generator's tables, plus its pages rewritten
        as a multi-file crawl segment: all files, the first 15/16 of them
        (kg_delta's base) and the first one (the cold warm-up's input)."""
        import pyarrow.parquet as pq

        from fixtures.generate import generate

        gen = os.path.join(self.run_dir, "gen")
        generate(gen, n_pages=self.size["pages"],
                 n_annotated=self.size["annotated"], seed=self.args.seed)
        self.gen = gen
        self.pages_dir = os.path.join(self.run_dir, "pages")
        self.base_dir = os.path.join(self.run_dir, "pages_base")
        self.warm_dir = os.path.join(self.run_dir, "pages_warm")
        for d in (self.pages_dir, self.base_dir, self.warm_dir):
            os.makedirs(d)
        tbl = pq.read_table(os.path.join(gen, "pages.parquet"))
        nfiles = self.size["files"]
        step = -(-tbl.num_rows // nfiles)
        for j in range(nfiles):
            part = tbl.slice(j * step, step)
            pq.write_table(part, os.path.join(self.pages_dir, f"part-{j:02d}.parquet"))
            if j < nfiles - 1:
                pq.write_table(part, os.path.join(self.base_dir, f"part-{j:02d}.parquet"))
            if j == 0:
                pq.write_table(part, os.path.join(self.warm_dir, f"part-{j:02d}.parquet"))
        self.n_pages = tbl.num_rows
        self.gold = {
            (r["subj"], r["pred"], r["obj"], r["url"])
            for r in read_rows(os.path.join(gen, "gold_triples.parquet"))
        }
        self.edict = os.path.join(gen, "entity_dict.parquet")
        self.aliases = os.path.join(gen, "gold_canon.parquet")
        sample = tbl.slice(0, self.size["profile_docs"])
        self.sample_urls = sample.column("url").to_pylist()
        self.sample_html = sample.column("html").to_pylist()

    def kg_model(self) -> float:
        """Load the cached kg model, mining it first if this checkout has
        none for the current sources. Returns the build seconds (0 when
        cached)."""
        path = os.path.join(WORK, f"model-{source_digest()[:20]}.json")
        built = 0.0
        if not os.path.exists(path):
            t0 = time.perf_counter()
            rules, preds = self.mine_model()
            built = time.perf_counter() - t0
            tmp = f"{path}.{os.getpid()}.tmp"
            with open(tmp, "w") as f:
                json.dump({"rules": rules, "pred_patterns": preds}, f)
            os.replace(tmp, path)
            log(f"mined the kg model in {built:.1f} s: {len(rules)} rules, "
                f"{len(preds)} predicate patterns")
        with open(path) as f:
            model = json.load(f)
        self.rules, self.preds = model["rules"], model["pred_patterns"]
        return built

    def mine_model(self) -> tuple[list, list]:
        """The kg model, mined from its fixed training corpus the way
        jobs/train.py does it: mine, commit as parquet, collect the model
        from the committed tables."""
        from fixtures.generate import generate
        from mxsparkg.mining import (
            mine_predicates,
            mine_rules,
            pred_patterns_to_model,
            rules_to_model,
        )

        corpus = os.path.join(self.run_dir, "model_corpus")
        generate(corpus, **MODEL_CORPUS)
        ann = self.spark.read.parquet(os.path.join(corpus, "annotated.parquet"))
        seed = self.spark.read.parquet(
            os.path.join(corpus, "seed_relations.parquet"))
        out = os.path.join(self.run_dir, "model")
        mine_rules(ann, **MODEL_PARAMS).write.parquet(f"{out}/rules")
        mine_predicates(ann, seed).write.parquet(f"{out}/preds")
        return (
            rules_to_model(self.spark.read.parquet(f"{out}/rules")),
            pred_patterns_to_model(self.spark.read.parquet(f"{out}/preds")),
        )

    # ---------------------------------------------------------- operations

    def pipeline_op(self, ck: str, pages_dir: str, incremental: bool = False,
                    restore_from: str | None = None) -> dict:
        """One run_pipeline call with the kg model, timed from the call to
        its return (the terminal manifests are committed by then). The
        committed triples are collected afterwards for the gate."""
        from mxsparkg.pipeline import run_pipeline, triples_for_eval

        from kgbench.layers import RssSampler, manifest_rows

        shutil.rmtree(ck, ignore_errors=True)
        if restore_from:
            shutil.copytree(restore_from, ck)
        tracing = self.trace_spans is not None
        if tracing:
            start = self.elog.offset()
            appended_ns = self.trace_spans.ns["append_metrics"]
        with RssSampler(self.jvm_pid()) as rss:
            t0 = time.perf_counter()
            out = run_pipeline(self.spark, pages_dir, self.edict,
                               self.aliases, ck, rules=self.rules,
                               pred_patterns=self.preds,
                               incremental=incremental)
            wall = time.perf_counter() - t0
        rec = {
            "wall_s": wall,
            "docs": self.n_pages,
            "rss_mb": rss.peak_mb,
            "rows": manifest_rows(ck, ("detect", "triples", "edges", "nodes")),
            "stage_walls": out["_stage_walls"],
            "ck": ck,
        }
        if tracing:
            rec["events"] = self.elog.events_since(start)
            rec["metrics_append_s"] = (
                self.trace_spans.ns["append_metrics"] - appended_ns) / 1e9
        rec["triples"] = {tuple(r) for r in
                          triples_for_eval(out["triples"]).collect()}
        return rec


# -------------------------------------------------------------- workloads


def run_kg_full(b: Bench):
    """Set up kg_full; returns its operation."""
    ck = os.path.join(b.run_dir, "ck")

    def op():
        rec = b.pipeline_op(ck, b.pages_dir)
        rec["p"], rec["r"] = prf(rec["triples"], b.gold)
        rec["ok"] = gate_kg_full(rec["triples"], b.gold)
        return rec

    # warm-up: the first pipeline run of a session is far slower, the second
    # still measurably so. The cold one runs on a single page file, since
    # its cost is mostly the JVM's and the Python workers' start.
    b.pipeline_op(ck, b.warm_dir)
    op()
    return op


def run_kg_delta(b: Bench):
    """Set up kg_delta; returns its operation."""
    ref_ck = os.path.join(b.run_dir, "ck_ref")
    base_ck = os.path.join(b.run_dir, "ck_base")
    ck = os.path.join(b.run_dir, "ck")
    # the fresh full run the gate compares against, then the 15/16 base;
    # together they also warm the session up
    ref = b.pipeline_op(ref_ck, b.pages_dir)
    b.pipeline_op(base_ck, b.base_dir)

    def op():
        rec = b.pipeline_op(ck, b.pages_dir, incremental=True,
                            restore_from=base_ck)
        rec["p"], rec["r"] = prf(rec["triples"], b.gold)
        rec["ok"] = gate_kg_delta(rec["rows"], rec["triples"], ref["rows"],
                                  ref["triples"])
        return rec

    op()  # warm-up: the first incremental run of a session is slower
    return op


WORKLOADS = {"kg_full": run_kg_full, "kg_delta": run_kg_delta}


# ---------------------------------------------------------------- metrics


def end_to_end(recs: list[dict], setup_s: float) -> dict:
    done = [r for r in recs if "wall_s" in r]
    if not done:
        return {}
    return {
        "wall_s": statistics.median(r["wall_s"] for r in done),
        "docs_per_s": statistics.median(r["docs"] / r["wall_s"] for r in done),
        "triples_per_s": statistics.median(
            r["rows"]["triples"] / r["wall_s"] for r in done),
        "triple_precision": min(r["p"] for r in done),
        "triple_recall": min(r["r"] for r in done),
        "setup_s": setup_s,
        "peak_rss_mb": max(r["rss_mb"] for r in done),
    }


def traced_layers(b: Bench, recs: list[dict], op) -> dict:
    """Per-layer metrics of a traced run (see kgbench/layers.py)."""
    from kgbench import layers as LY
    from kgbench.eventlog import rollup

    done = [r for r in recs if "wall_s" in r]
    out: dict[str, float] = {
        "traced.wall_s": statistics.median(r["wall_s"] for r in done),
        "metrics.append_s": statistics.mean(
            r["metrics_append_s"] for r in done),
        "pipeline.overlap_ratio": statistics.mean(
            sum(r["stage_walls"].values()) / r["wall_s"] for r in done),
    }
    per_op = [rollup(r["events"]) for r in done]
    for key in ("executor_run_s", "executor_cpu_s", "gc_s", "shuffle_bytes",
                "spill_bytes", "tasks"):
        out[f"spark.{key}"] = statistics.mean(x[key] for x in per_op)
    out["detect.stage_s"] = statistics.mean(x["scoped_stage_s"] for x in per_op)
    out["detect.tasks"] = statistics.mean(x["scoped_tasks"] for x in per_op)
    out["detect.task_skew"] = statistics.mean(
        x["scoped_task_skew"] for x in per_op)

    ck = done[-1]["ck"]  # every op commits into the same root
    out.update(LY.checkpoint_size(ck))
    out.update(LY.spark_layers(b.spark, ck, os.path.join(b.run_dir, "ck_cat"),
                               b.edict, b.aliases))
    out.update(LY.textcore_profile(b.sample_html, b.sample_urls, b.rules,
                                   b.preds))
    out.update(LY.mining_layers(
        b.spark, b.elog,
        b.spark.read.parquet(os.path.join(b.gen, "annotated.parquet")),
        b.spark.read.parquet(os.path.join(b.gen, "seed_relations.parquet")),
        MINING_PARAMS))

    # scaling efficiency: the same operation on one core. It is gated like
    # every other op, so it joins the run's records.
    rate_n = statistics.median(r["docs"] / r["wall_s"] for r in done)
    b.stop_spark()
    b.start_spark(1)
    one = op()
    recs.append(one)
    out["pipeline.scaling_eff"] = rate_n / (b.cores * one["docs"] / one["wall_s"])
    return out


@contextlib.contextmanager
def metrics_append_span(b: Bench):
    """Time mxsparkg.pipeline.append_metrics, per pipeline operation."""
    from mxsparkg import pipeline as P

    from kgbench.layers import Spans, patched

    spans = Spans()
    with patched(spans, [(P, "append_metrics", "append_metrics")]):
        b.trace_spans = spans
        try:
            yield
        finally:
            b.trace_spans = None


def result_line(recs: list[dict], values: dict, spec: dict) -> dict:
    """The result object. An op counts as failed when it raised or its
    gate did not pass; a missing metric makes the run incorrect."""
    failed = sum(1 for r in recs if not r.get("ok"))
    return {
        "correct": failed == 0 and set(values) >= set(spec),
        "attempted": len(recs),
        "failed": failed,
        "metrics": {name: {"value": float(values.get(name, 0.0)),
                           "unit": spec[name]["unit"]} for name in spec},
    }


def load_metric_specs() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m for m in spec["end_to_end"]},
            {m["name"]: m for m in spec["per_layer"]})


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full",
                    help="input size; 'tiny' is for the self-tests")
    args = ap.parse_args(argv)

    # the benchmark builds nothing of its own: the program must be here
    for need in ("mxsparkg/pipeline.py", "fixtures/generate.py",
                 "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"{need} not found under {ROOT}: run from a checkout root")
            return 2
    sys.path[:0] = [ROOT, os.path.dirname(BENCH_DIR)]
    e2e_spec, layer_spec = load_metric_specs()

    b = Bench(args)
    try:
        t0 = time.perf_counter()
        b.start_spark(b.cores)
        t_session = time.perf_counter() - t0
        build_s = b.kg_model()
        t1 = time.perf_counter()
        b.generate()
        t_gen = time.perf_counter() - t1
        op = WORKLOADS[args.workload](b)
        setup_s = time.perf_counter() - t0 - build_s
        log(f"setup {setup_s:.2f} s: session {t_session:.2f} s, inputs "
            f"{t_gen:.2f} s (model build {build_s:.1f} s excluded)")
        if args.trace:
            with metrics_append_span(b):
                recs = measure(args.seconds, op)
                values = traced_layers(b, recs, op)
            spec = layer_spec
        else:
            recs = measure(args.seconds, op)
            values = end_to_end(recs, setup_s)
            spec = e2e_spec
    finally:
        b.close()

    for r in recs:
        log(f"op wall {r.get('wall_s', float('nan')):.3f} s ok={r.get('ok')}")
    if args.trace:
        with open(os.path.join(BENCH_DIR, "layers.json")) as f:
            moves = json.load(f)["per_layer"]
        for name in spec:
            m = moves[name]
            print(f"{name} = {values.get(name, float('nan')):.6g} "
                  f"{spec[name]['unit']} -> moves {m['moves']} on {m['on']}")
    print(json.dumps(result_line(recs, values, spec)))
    return 0

if __name__ == "__main__":
    sys.exit(main())
