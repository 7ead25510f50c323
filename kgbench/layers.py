"""Per-layer measurement, taken from outside the program.

Every number here comes from wrapping or timing calls into a module's
public functions, from the Spark event log of the benchmark's own session,
or from /proc. Nothing in the program is edited:

- `textcore_profile` tags a fixed page sample in-process through
  `detect._tag_batch`, with the `textcore` functions it calls wrapped by
  timing spans (µs/doc and per-doc counts);
- `spark_layers` times each public `link`/`graph`/`catalog` call on a
  committed pipeline checkpoint, forced through a noop write or a commit;
- `mining_layers` times each step of `mining.mine_rules` and
  `mining.mine_predicates`, forced through noop writes;
- `RssSampler` samples the summed RSS of the driver JVM and its Python
  workers.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
from collections import defaultdict

from kgbench.eventlog import rollup


def noop(df) -> None:
    """Materialize every column and shuffle of `df`, keeping nothing."""
    df.write.format("noop").mode("overwrite").save()


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


# ------------------------------------------------------------------ spans


class Spans:
    """Cumulative time and output counts of wrapped calls, by span name."""

    def __init__(self) -> None:
        self.ns: dict[str, int] = defaultdict(int)
        self.items: dict[str, int] = defaultdict(int)

    def wrap(self, name: str, fn):
        ns, items = self.ns, self.items

        def wrapped(*args, **kwargs):
            t0 = time.perf_counter_ns()
            out = fn(*args, **kwargs)
            ns[name] += time.perf_counter_ns() - t0
            if isinstance(out, list):
                items[name] += len(out)
            return out

        return wrapped


@contextlib.contextmanager
def patched(spans: Spans, targets: list[tuple[object, str, str]]):
    """Replace each (module, attribute) by its span-timed wrapper for the
    duration of the block."""
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in targets]
    try:
        for mod, attr, name in targets:
            setattr(mod, attr, spans.wrap(name, getattr(mod, attr)))
        yield spans
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


def textcore_profile(htmls: list[bytes], urls: list[str], rules: list[dict],
                     pred_patterns: list[dict], passes: int = 4,
                     batch: int = 512) -> dict:
    """In-process tag cost of the page sample, layer by layer.

    Runs the detect worker's own path (pinned_extract, then _tag_batch per
    Arrow-sized batch). The first pass starts from an empty generalization
    memo and a fresh trie, like a new Python worker: the per-doc counts and
    the memo hit rate come from it. Times are the median over the later,
    warm passes, as a reused worker sees them."""
    from mxsparkg import detect as D
    from mxsparkg import textcore as T
    from mxsparkg.lexicons import build_lexicons

    trie = T.build_trie(rules)
    lex = build_lexicons()
    n = len(htmls)
    per_pass: list[dict[str, float]] = []
    first: Spans | None = None
    T._GEN_CACHE_LEX = None  # next tag_text call starts an empty memo
    for _ in range(passes):
        spans = Spans()
        targets = [
            (T, "tokenize", "tokenize"),
            (T, "split_sentences", "split"),
            (T, "match_sentence", "match"),
            (T, "resolve_matches", "resolve"),
            (T, "match_predicates", "pair"),
            (D, "tag_text", "tag"),
        ]
        with patched(spans, targets):
            t0 = time.perf_counter_ns()
            texts = [T.pinned_extract(h) for h in htmls]
            spans.ns["extract"] = time.perf_counter_ns() - t0
            t0 = time.perf_counter_ns()
            for i in range(0, n, batch):
                D._tag_batch(urls[i:i + batch], texts[i:i + batch], trie,
                             lex, pred_patterns)
            spans.ns["batch"] = time.perf_counter_ns() - t0
        if first is None:
            first = spans
            memo_new = len(T._GEN_CACHE)
        us = {k: v / 1e3 / n for k, v in spans.ns.items()}
        children = sum(us[k] for k in
                       ("tokenize", "split", "match", "resolve", "pair"))
        per_pass.append({
            "textcore.extract_us": us["extract"],
            "textcore.tokenize_us": us["tokenize"] + us["split"],
            "textcore.match_us": us["match"],
            "textcore.resolve_us": us["resolve"],
            "textcore.pair_us": us["pair"],
            "textcore.tag_self_us": us["tag"] - children,
            "detect.arrow_build_us": us["batch"] - us["tag"],
        })
    warm = per_pass[1:] or per_pass
    out = {k: statistics.median(p[k] for p in warm) for k in warm[0]}
    c = first.items
    out.update({
        "textcore.tokens": c["tokenize"] / n,
        "textcore.sentences": c["split"] / n,
        "textcore.raw_matches": c["match"] / n,
        "textcore.mentions": c["resolve"] / n,
        "textcore.triples": c["pair"] / n,
        "textcore.match_keep_ratio": c["resolve"] / max(c["match"], 1),
        "textcore.gen_memo_hit_rate": 1.0 - memo_new / max(c["tokenize"], 1),
    })
    return out


# ------------------------------------------------------------ spark layers


def spark_layers(spark, ck_root: str, scratch_root: str,
                 entity_dict_path: str, aliases_path: str) -> dict:
    """Time each public link/graph/catalog call on the committed checkpoint
    of a pipeline run. Inputs of the call under test are cached first, so
    each time covers that call alone."""
    from pyspark.sql import functions as F

    from mxsparkg import graph as G
    from mxsparkg import link as L
    from mxsparkg.catalog import Checkpointer, read_table
    from mxsparkg.detect import split_detections

    ck = Checkpointer(spark, ck_root)
    det = ck.read("detect").persist()
    noop(det)
    edict = read_table(spark, entity_dict_path)
    aliases = read_table(spark, aliases_path)
    canon = ck.read("canon_map")
    mentions, raw = split_detections(det)
    out = {
        "link.mentions_s": timed(lambda: noop(L.link_mentions(mentions, edict))),
        "link.triples_s": timed(lambda: noop(L.link_triples(raw, edict))),
    }
    linked_m = L.link_mentions(mentions, edict).persist()
    linked_t = L.link_triples(raw, edict).persist()
    noop(linked_m)
    noop(linked_t)
    out["graph.rewrite_s"] = timed(
        lambda: noop(G.rewrite_canonical(linked_t, canon)))
    out["graph.edges_s"] = timed(
        lambda: noop(G.materialize_edges(ck.read("triples"))))
    out["graph.nodes_s"] = timed(
        lambda: noop(G.materialize_nodes(linked_m, canon)))
    out["graph.cc_s"] = timed(
        lambda: noop(G.connected_components(G.sameas_edges(aliases))))
    # catalog: commit 15/16 of the detections, then time appending the rest
    # (the delta-ingest commit of kg_delta, replayed on this checkpoint)
    in_delta = F.abs(F.hash("url")) % 16 == 0
    scratch = Checkpointer(spark, scratch_root)
    scratch.materialize(det.filter(~in_delta), "detect")
    out["catalog.append_s"] = timed(
        lambda: scratch.append(det.filter(in_delta), "detect"))
    for df in (det, linked_m, linked_t):
        df.unpersist()
    return out


def manifest_rows(ck_root: str, stages: tuple[str, ...]) -> dict[str, int]:
    """Committed row count of each stage, from its manifest."""
    rows = {}
    for stage in stages:
        with open(os.path.join(ck_root, f"{stage}._manifest.json")) as f:
            rows[stage] = json.load(f)["rows"]
    return rows


def checkpoint_size(ck_root: str) -> dict:
    """Rows (from the manifests) and bytes (from the data files) committed
    by a pipeline run."""
    stages = ("detect", "canon_map", "triples", "edges", "nodes")
    nbytes = 0
    for stage in stages:
        for dirpath, _dirs, files in os.walk(os.path.join(ck_root, stage)):
            nbytes += sum(os.path.getsize(os.path.join(dirpath, x))
                          for x in files)
    return {"catalog.rows_written": sum(manifest_rows(ck_root, stages).values()),
            "catalog.bytes_written": nbytes}


# ----------------------------------------------------------------- mining


def mining_layers(spark, elog, annotated, seed_relations,
                  params: dict) -> dict:
    """Each step of mine_rules (sequences → PrefixSpan → contiguous recount
    → scoring) and mine_predicates, materialized one at a time, the way
    mine_rules composes them."""
    from mxsparkg import mining as M

    seq = M.sequences_df(annotated).persist()
    out = {"mining.sequences_s": timed(lambda: noop(seq))}
    cands = M.frequent_patterns(
        seq, params["min_support_frac"], params["max_len"]).persist()
    out["mining.prefixspan_s"] = timed(lambda: noop(cands))
    n_cands = cands.count()
    start = elog.offset()
    t0 = time.perf_counter()
    counted = M.recount_contiguous(seq, cands).persist()
    noop(counted)
    out["mining.recount_s"] = time.perf_counter() - t0
    out["mining.recount_tasks"] = rollup(elog.events_since(start))[
        "scoped_tasks"]
    rules = M.score_rules(
        counted, params["min_support"], params["min_confidence"],
        params["topk_per_context"]).persist()
    out["mining.score_s"] = timed(lambda: noop(rules))
    n_rules = rules.count()
    out["mining.predicates_s"] = timed(
        lambda: noop(M.mine_predicates(annotated, seed_relations)))
    out.update({
        "mining.candidates": n_cands,
        "mining.rules_out": n_rules,
        "mining.rule_yield": n_rules / max(n_cands, 1),
    })
    for df in (seq, cands, counted, rules):
        df.unpersist()
    return out


# -------------------------------------------------------------------- rss


def _python_tree(root: int) -> list[int]:
    """`root` and its Python descendants (the worker daemons and workers).
    Other descendants are left out: the JVM forks short-lived shell
    commands, and each fork shows the JVM's whole resident set until it
    execs."""
    children: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: parse after its closing paren
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        children[ppid].append(int(name))
    pids, todo = [root], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                exe = os.path.basename(f.read().split(b"\0", 1)[0])
        except OSError:
            continue
        if exe.startswith(b"python"):
            pids.append(pid)
            todo.extend(children.get(pid, ()))
    return pids


def tree_rss_mb(root: int) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _python_tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total / 2**20


class RssSampler:
    """Peak summed RSS (MiB) of the driver JVM and its Python workers,
    sampled from /proc by a background thread while the block runs."""

    def __init__(self, root_pid: int, interval_s: float = 0.05):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root_pid))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> RssSampler:
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root_pid))
