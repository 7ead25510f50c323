"""Driver-facing benchmark: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <float>, ...extras}

Headlines span the engine's hot paths: columnar scan+filter+agg, the big
shuffle join, window ranking, exact dedup, JSON parse, and the KG core
(mapInArrow trie detect over the documents table standing in for pages).
Each query is executed with a count-only action (no driver collect of data
rows) so timing measures the distributed plan, not py4j transfer.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def _fixture_scale(sf: str) -> str:
    base = os.path.basename(sf.rstrip("/"))
    return {"sf0.001": "tiny", "sf0.01": "small"}.get(base, "bench")


def _kg_detect(spark: SparkSession, sf: str) -> DataFrame:
    """Flagship engine path: byte-identical extract (U1) + trie mention
    detection + predicate pairing (U3) over the deterministic fixture pages
    (seeded, planted entities — FIXTURES.md §B), scale tied to sf."""
    from fixtures.generate import ensure_fixtures
    from mxsparkg.detect import broadcast_model, detect_pages

    fdir = ensure_fixtures(_fixture_scale(sf))
    # split by on-disk bytes: tiny-HTML pages compress ~8x, default 128MB
    # splits would leave the whole scan in 1-2 tasks at this corpus size.
    # Session conf (per-read options are ignored by file sources); kg_detect
    # runs last in the headline list so no other query is affected.
    split = max(262144, os.path.getsize(f"{fdir}/pages.parquet") // 64)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
    pages = spark.read.parquet(f"{fdir}/pages.parquet")
    # fused U1∘U3 — the pipeline's hot path
    return detect_pages(pages, broadcast_model(spark), with_context=False)


def headline_queries() -> dict:
    from __spark_entry__ import queries

    q = queries()
    picks = [
        "agg_groupby_count",   # map-side-combined hash agg on lineitem
        "agg_multi",           # multi-agg + collect_set
        "join_inner",          # SMJ/shuffle join orders x lineitem
        "join_broadcast",      # broadcast dim join
        "join_range",          # range self-join on events
        "window_rownum",       # ranking window
        "dedup_rank",          # exact dedup on documents
        "fn_json",             # JSON extraction on events.props
        "fn_array_hof",        # higher-order array funcs on embeddings
        "agg_pandas",          # Arrow grouped pandas agg
    ]
    out = {k: q[k] for k in picks if k in q}
    # training-data + graph-analytics ops land here too once their
    # modules ship
    # kg_transe is deliberately NOT here: a 2-epoch training loop over
    # model-sized embedding tables measures per-stage scheduler latency,
    # not data throughput — the gate + pytest certify it instead
    # round 4 additions: the substring-dedup tier (the heaviest new op —
    # gram explode + mark join + strip), BPE training (iterative pair-count
    # groupBys), and personalized PageRank (seed-restart iteration)
    # second round-4 batch: HITS (two normalized matvec rounds), ER by
    # neighborhood Jaccard (capped incidence self-join), near-dup
    # clustering (LSH pairs + label propagation), and the as-of join
    # (union-window point-in-time lookup)
    # third round-4 batch: weighted SSSP (Bellman-Ford rounds), the 2-hop
    # BGP match (pred-pruned triple legs), PMI edge weighting (pair counts
    # + marginal joins), chunking (explode-heavy), and sequence packing
    # (per-shard window cumsum)
    # fourth round-4 batch: the bloom-prefiltered join (runtime-filter
    # shape), hashed-feature classification (explode + sum), boilerplate
    # strip (segment df + broadcast + reassembly), cohort retention, and
    # the fixed-width histogram
    # graph_stress is deliberately NOT here either: its 3 forward + 2
    # backward rounds over the sparsified co-purchase graph are ~8
    # stage barriers on a model-sized state (10.4s at sf0.1, flat vs
    # sf0.01) — a timed run measures scheduler latency, not data
    # throughput; the gate + closed-form pytests certify it
    # graph_scc is deliberately NOT here, for the same reason as
    # kg_transe: its gate digraph is 256 nodes at EVERY sf (the diameter
    # bound is by construction), so a timed run measures per-stage
    # scheduler + codegen latency of the closure rounds (17s cold vs 7s
    # warm on identical data), not data throughput — the gate + Tarjan
    # property tests certify it instead
    for k in ("dedup_minhash_lsh", "txt_quality", "ann_topk_cosine",
              "txt_lm_score", "kg_pagerank", "evt_sessionize",
              "kg_ntriples", "dedup_substring", "txt_bpe_merges",
              "txt_bpe_encode", "graph_modularity", "graph_linkpred",
              "evt_transitions", "graph_assortativity", "txt_filter_gate",
              "graph_path",
              "kg_ppr", "graph_hits", "kg_er_jaccard", "dedup_cluster",
              "evt_asof", "graph_sssp", "kg_bgp_2hop", "kg_edge_pmi",
              "txt_chunk", "txt_pack_sequences", "join_bloom",
              "txt_classify", "txt_boilerplate",
              "evt_retention", "agg_histogram", "kg_turtle",
              # round-5 batch: multi-probe LSH ANN (Hamming-1/2 bucket
              # expansion join), the TRAINED quality classifier
              # (broadcast weight lookup + margin agg), the full-outer
              # reconciliation join and the pivot reshape
              "ann_lsh_multiprobe",
              "txt_classify_trained", "join_full", "agg_pivot",
              # closing round-5 batch: conversion attribution (two RANGE
              # frames over one user_id sort — the widest window shape in
              # the event family), whole-bit token entropy (explode +
              # double rollup), and the deterministic walk corpus
              # (4 frontier-vs-adjacency join rounds)
              "evt_attribution", "txt_entropy", "graph_walk",
              # closing round-5 batch 2: one synchronized Louvain
              # local-move pass (edge⋈label rollup + per-node argmax
              # window over the min-label partition), RDFS entailment
              # closure (ontology-space path doubling + ONE broadcast
              # instance join), the 3-leg star BGP (partitioning reused
              # across the subject-keyed join chain), and the Markov
              # stationary vector (the T23' lag window + model-sized
              # integer matvec rounds)
              "graph_louvain", "kg_rdfs_closure", "kg_bgp_star",
              "evt_markov_stationary",
              # Kleene-plus reorder-chain closure (min-plus doubling
              # rounds) and the Louvain phase-2 supernode collapse
              "kg_property_path", "graph_coarsen",
              # round-5d batch: the bucketized interval-overlap join
              # (explode + bucket equi-join + distinct), bounded k-truss
              # peel (two triangle-enumeration rounds — the heaviest new
              # graph op), the GNN mean message-passing layer, the
              # Naive Bayes classifier (count rollups + broadcast score),
              # and the SPARQL OPTIONAL census
              "join_interval", "graph_ktruss", "graph_msgpass",
              "txt_nb_classify", "kg_bgp_optional",
              # round-5e/f batch: exact Misra-Gries heavy hitters (the
              # unbounded-cardinality-safe vocab shuffle: Arrow MG pass +
              # broadcast-semi recount), asymmetric containment (the
              # directed inverted-index self-join — strictly more pairs
              # than jaccard's a<b half), SCD2 dimension build (two
              # windows over one user partitioning), sweep-line peak
              # concurrency (boundary-delta cumsum), landmark harmonic
              # centrality (per-seed BFS: state |landmarks| x reach),
              # and sorted-neighborhood ER (global rank + exploded
              # rank+k equi-join)
              "txt_heavy_hitters", "txt_containment_pairs", "evt_scd2",
              "evt_concurrency", "graph_harmonic", "kg_er_sortednbr",
              # per-node LCC (oriented triangle enumeration + 3-corner
              # explode — the densest join shape in the closing batch)
              "graph_clustering_local",
              # round-5g sketch tier: the HLL register build is the
              # one-Exchange profile-everything pass (per-row md5 + bin
              # under codegen — a pure expression-throughput measure),
              # and gap-fill is the resample/locf grid (groupBy +
              # per-user sequence explode + ignorenulls window)
              "sketch_hll", "evt_gap_fill",
              # round-5h crawl admission layer: robots is the
              # representative shape (broadcast rule join with a
              # startswith theta leg + map-side struct-max winner)
              "crawl_robots",
              # round-5i batch: the grid-probe spatial self-join (explode
              # x9 + cell equi-join + integer distance filter), the KMV
              # set-expression epilogue (two bottom-k sketch builds +
              # model-sized merge), and the JSON-LD export (two-level
              # sorted string assembly over the customer KG slice)
              "geo_join_cell", "sketch_kmv_jaccard", "kg_jsonld"):
        if k in q:
            out[k] = q[k]
    out["kg_detect"] = _kg_detect
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from mxsparkg.session import get_spark

    spark = get_spark(master=f"local[{cpus}]", app_name="mxsparkg-bench")
    spark.sparkContext.setLogLevel("WARN")

    # fixture generation is one-time setup, not query time
    from fixtures.generate import ensure_fixtures

    ensure_fixtures(_fixture_scale(sf_dir))

    qs = headline_queries()

    # Warmup (untimed): the first query otherwise pays JVM/codegen warmup +
    # Python daemon fork, billing ~5s of session startup to one query
    # (BENCH_r01's agg_groupby_count anomaly). One relational pass and one
    # Arrow pandas-UDF pass touch both execution engines.
    t0 = time.time()
    qs["agg_groupby_count"](spark, sf_dir).count()
    qs["agg_pandas"](spark, sf_dir).count()
    print(f"[bench] warmup: {time.time() - t0:.3f}s (untimed)",
          file=sys.stderr)

    timings: dict[str, float] = {}
    extras: dict[str, float] = {}
    total = 0.0
    for name, fn in qs.items():
        t0 = time.time()
        df = fn(spark, sf_dir)
        n = df.count()
        dt = time.time() - t0
        timings[name] = round(dt, 3)
        total += dt
        if name == "kg_detect":
            from fixtures.generate import ensure_fixtures

            fdir = ensure_fixtures(_fixture_scale(sf_dir))
            n_docs = spark.read.parquet(f"{fdir}/pages.parquet").count()
            extras["kg_detect_rows"] = n
            extras["kg_docs_per_sec"] = round(n_docs / dt, 1)
            extras["kg_detections_per_sec"] = round(n / dt, 1)
        print(f"[bench] {name}: {dt:.3f}s ({n} rows)", file=sys.stderr)

    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0
    result = {
        "metric": "headline_queries_total_runtime",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        **extras,
    }
    spark.stop()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
