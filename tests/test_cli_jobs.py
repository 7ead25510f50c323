"""In-process smoke of every analytic spark-submit surface — the CLI
mains are product surfaces and were previously exercised only by hand;
this module pins argument plumbing, op dispatch, and output shape for
each, on tiny deterministic inputs. The shared pytest session is
injected (get_spark monkeypatched; stop() neutralized so a main()
cannot tear the session down under later tests)."""

from __future__ import annotations

import json
import os
import shutil
import sys

import pytest

ROOT = "/tmp/mxsparkg_test_cli"


@pytest.fixture()
def cli(spark, monkeypatch, capsys):
    """Run a jobs/<name>.py main() in-process with the given argv,
    returning its printed JSON line."""
    import mxsparkg.session as session

    monkeypatch.setattr(session, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(type(spark), "stop", lambda self: None)

    def run(module: str, argv: list[str]) -> dict:
        import importlib

        mod = importlib.import_module(f"jobs.{module}")
        monkeypatch.setattr(sys, "argv", [f"{module}.py", *argv])
        mod.main()
        out = [
            ln for ln in capsys.readouterr().out.splitlines()
            if ln.startswith("{")
        ]
        assert out, f"{module} printed no JSON line"
        return json.loads(out[-1])

    return run


@pytest.fixture(scope="module")
def crawl_dir(spark):
    """A 4-page WARC crawl with cross-host links (same shape as the
    weblinks tests)."""
    from mxsparkg.warc import write_warc

    def page(host, path, hrefs):
        body = "<html><body>" + "".join(
            f'<a href="{h}">{host} link</a>' for h in hrefs
        ) + "</body></html>"
        return {
            "url": f"http://{host}{path}",
            "date": "2026-04-05T06:07:08Z",
            "body": body.encode(),
            "rec_type": "response",
        }

    d = f"{ROOT}/crawl"
    shutil.rmtree(ROOT, ignore_errors=True)
    os.makedirs(d)
    write_warc(
        f"{d}/c.warc.gz",
        [
            page("hub.com", "/a", ["http://s1.com/", "http://auth.com/"]),
            page("s1.com", "/", ["http://auth.com/", "http://hub.com/a"]),
            page("auth.com", "/", ["http://s1.com/x"]),
        ],
        gzip_members=True,
    )
    return d


def test_linkgraph_all_ops(cli, crawl_dir):
    for op, min_rows in [
        ("links", 5), ("hosts", 4), ("rank", 3), ("frontier", 1),
    ]:
        res = cli("linkgraph", [
            "--pages", crawl_dir, "--pages-format", "warc",
            "--op", op, "--out", f"{ROOT}/lg_{op}",
        ])
        assert res["op"] == op and res["rows"] >= min_rows, res


def test_datapipe_ops(cli):
    for op, rows in [
        ("txt_filter_gate", 100), ("dedup_exact", 100),
        ("dedup_minhash_quality", None),
    ]:
        res = cli("datapipe", [
            "--op", op,
            "--input", "/root/testdata/sf0.001/documents.parquet",
            "--out", f"{ROOT}/dp_{op}",
        ])
        assert res["op"] == op
        if rows is not None:
            assert res["rows"] == rows * 5  # 500 docs at sf0.001


def test_graph_analytics_ops(cli, spark):
    edges = spark.createDataFrame(
        [("a", "r", "b", 2), ("b", "r", "c", 1), ("a", "r", "c", 1),
         ("c", "r", "d", 3)],
        ["subj", "pred", "obj", "n_support"],
    )
    ep = f"{ROOT}/ga_edges"
    edges.write.mode("overwrite").parquet(ep)
    for op in ("triangles", "modularity", "linkpred", "assortativity",
               "scc", "louvain", "coarsen"):
        res = cli("graph_analytics", [
            "--op", op, "--edges", ep, "--out", f"{ROOT}/ga_{op}",
            "--iters", "3",
        ])
        assert res["op"] == op and res["rows"] >= 1, res
    # ktruss at k=3 (support >= 1): the a-b-c triangle's 3 edges
    # survive, the pendant c-d edge (zero triangles) dies
    res = cli("graph_analytics", [
        "--op", "ktruss", "--edges", ep, "--out", f"{ROOT}/ga_ktruss",
        "--iters", "2", "--top-k", "3",
    ])
    assert res["op"] == "ktruss" and res["rows"] == 3, res
    # msf: the 4-node graph's spanning forest is 3 edges (Kruskal-
    # equivalent Boruvka; certified in test_graphquery.py)
    res = cli("graph_analytics", [
        "--op", "msf", "--edges", ep, "--out", f"{ROOT}/ga_msf",
    ])
    assert res["op"] == "msf" and res["rows"] == 3, res
    # msgpass: one row per node of the subj/obj graph
    res = cli("graph_analytics", [
        "--op", "msgpass", "--edges", ep, "--out", f"{ROOT}/ga_msgpass",
    ])
    assert res["op"] == "msgpass" and res["rows"] == 4, res
    # walk: every node seeds one 3-hop walk (seed-mod 1); re-running is
    # bit-identical (determinism is the op's whole point)
    res = cli("graph_analytics", [
        "--op", "walk", "--edges", ep, "--out", f"{ROOT}/ga_walk",
        "--iters", "3", "--seed-mod", "1",
    ])
    assert res["op"] == "walk" and res["rows"] == 4, res
    first = {
        (r["walk_id"], r["path"])
        for r in spark.read.parquet(f"{ROOT}/ga_walk").collect()
    }
    cli("graph_analytics", [
        "--op", "walk", "--edges", ep, "--out", f"{ROOT}/ga_walk2",
        "--iters", "3", "--seed-mod", "1",
    ])
    second = {
        (r["walk_id"], r["path"])
        for r in spark.read.parquet(f"{ROOT}/ga_walk2").collect()
    }
    assert first == second


def test_kg_tools_exports_and_snapshots(cli, spark):
    triples = spark.createDataFrame(
        [("e1", "rel", "e2", "http://src/1"),
         ("e1", "rel", "e2", "http://src/2"),
         ("e2", "rel", "e3", "http://src/1")],
        ["subj", "pred", "obj", "url"],
    )
    tp = f"{ROOT}/kt_triples"
    triples.write.mode("overwrite").parquet(tp)
    res = cli("kg_tools", [
        "--op", "nquads", "--edges", tp, "--out", f"{ROOT}/kt_nq",
    ])
    assert res["rows"] == 3  # two sources for the same triple = 2 quads

    edges = triples.select("subj", "pred", "obj")
    ep = f"{ROOT}/kt_edges"
    edges.write.mode("overwrite").parquet(ep)
    res = cli("kg_tools", [
        "--op", "jsonld", "--edges", ep, "--out", f"{ROOT}/kt_jsonld",
    ])
    assert res["rows"] == 2  # one JSON-Lines doc per distinct subject
    import json

    for r in spark.read.text(f"{ROOT}/kt_jsonld").collect():
        assert json.loads(r["value"])["@id"].startswith("urn:kg:e:")
    delta = spark.createDataFrame(
        [("add", "e3", "rel", "e4")], ["op", "subj", "pred", "obj"]
    )
    dp = f"{ROOT}/kt_delta"
    delta.write.mode("overwrite").parquet(dp)
    res = cli("kg_tools", [
        "--op", "apply", "--edges", ep, "--delta", dp,
        "--delta-id", "d1", "--out", f"{ROOT}/kt_snaps",
    ])
    assert res["rows"] == 4  # 3 distinct base triples + 1 add
    res = cli("kg_tools", [
        "--op", "snapshot", "--snapshots", f"{ROOT}/kt_snaps",
        "--out", f"{ROOT}/kt_asof",
    ])
    assert res["rows"] == 4

    # retention GC: only one committed version exists, keep 1 -> nothing
    # expired and the table stays readable (the keep_last >= 1 floor)
    res = cli("kg_tools", [
        "--op", "expire", "--snapshots", f"{ROOT}/kt_snaps", "--keep", "1",
    ])
    assert res["op"] == "expire" and res["expired"] == []
    res = cli("kg_tools", [
        "--op", "snapshot", "--snapshots", f"{ROOT}/kt_snaps",
        "--out", f"{ROOT}/kt_asof2",
    ])
    assert res["rows"] == 4

    # conflicts: e1 claims two distinct objects for functional 'rel'
    cedges = spark.createDataFrame(
        [("e1", "rel", "e2"), ("e1", "rel", "e9"), ("e2", "rel", "e3"),
         ("e1", "other", "x"), ("e1", "other", "y")],
        ["subj", "pred", "obj"],
    )
    cep = f"{ROOT}/kt_cedges"
    cedges.write.mode("overwrite").parquet(cep)
    res = cli("kg_tools", [
        "--op", "conflicts", "--edges", cep, "--pred", "rel",
        "--out", f"{ROOT}/kt_conf",
    ])
    assert res["rows"] == 1
    row = spark.read.parquet(f"{ROOT}/kt_conf").collect()[0]
    assert row["subj"] == "e1" and row["resolved_obj"] == "e2"

    # reliability: the pipeline triples table scores its source pages —
    # src/1 asserts only resolved objects, a contradicting page scores 0
    rel_triples = spark.createDataFrame(
        [("e1", "rel", "e2", "http://src/1"),
         ("e1", "rel", "e9", "http://src/bad"),
         ("e2", "rel", "e3", "http://src/1")],
        ["subj", "pred", "obj", "url"],
    )
    rtp = f"{ROOT}/kt_rel_triples"
    rel_triples.write.mode("overwrite").parquet(rtp)
    res = cli("kg_tools", [
        "--op", "reliability", "--edges", rtp, "--out", f"{ROOT}/kt_rel",
    ])
    assert res["rows"] == 2
    sc = {r["source"]: r["agree_ppm"]
          for r in spark.read.parquet(f"{ROOT}/kt_rel").collect()}
    assert sc["http://src/1"] == 1_000_000
    assert sc["http://src/bad"] == 0


def test_table_profile_cli(cli, spark):
    """jobs/table_profile.py: one-scan column stats + the sketch profile
    (HLL distinct estimate inside the m=256 envelope of the true count,
    CMS point estimates present for --hot-keys, sketch tables persisted
    to --out for later merge)."""
    shutil.rmtree(f"{ROOT}/prof", ignore_errors=True)
    out = cli("table_profile", [
        "--table", "/root/testdata/sf0.001/orders.parquet",
        "--key", "o_custkey",
        "--hot-keys", "7",
        "--out", f"{ROOT}/prof",
    ])
    truth = (
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .select("o_custkey").distinct().count()
    )
    assert out["n_rows"] > 0
    assert out["columns"]["o_custkey"]["nulls"] == 0
    # shape diagnostics present for numeric columns and sane: an
    # order-total distribution is right-skewed with positive spread
    shape = out["columns"]["o_totalprice"]
    assert shape["std"] > 0
    assert -10 < shape["skewness"] < 10
    assert "skewness" not in out["columns"].get("o_orderstatus", {})
    assert abs(out["hll_distinct_est"] - truth) / truth < 0.20
    assert "7" in out["cms_est"]
    # persisted sketches re-read and merge-ready
    assert spark.read.parquet(f"{ROOT}/prof/hll").count() == \
        out["hll_registers_hit"]
    assert spark.read.parquet(f"{ROOT}/prof/cms").count() > 0


def test_crawl_admit_cli(cli, spark):
    """jobs/crawl_admit.py: URL split (path-with-query), robots
    admission, politeness scheduling, --out round-trip, and the JSON
    stat line."""
    shutil.rmtree(f"{ROOT}/admit", ignore_errors=True)
    frontier = spark.createDataFrame(
        [("https://a.example/ok/1", 3),
         ("https://a.example/ok/2?q=1", 9),
         ("https://a.example/private/x", 9),
         ("https://b.example/anything", 1)],
        "url string, priority int",
    )
    frontier.write.mode("overwrite").parquet(f"{ROOT}/admit_frontier")
    rules = spark.createDataFrame(
        [("a.example", "/private", 0)], "host string, prefix string,"
                                        " allow int")
    rules.write.mode("overwrite").parquet(f"{ROOT}/admit_robots")
    delays = spark.createDataFrame(
        [("a.example", 3000)], "host string, delay_ms bigint")
    delays.write.mode("overwrite").parquet(f"{ROOT}/admit_delays")

    out = cli("crawl_admit", [
        "--frontier", f"{ROOT}/admit_frontier",
        "--robots", f"{ROOT}/admit_robots",
        "--delays", f"{ROOT}/admit_delays",
        "--priority-col", "priority",
        "--out", f"{ROOT}/admit",
    ])
    assert out["n_frontier"] == 4
    assert out["n_denied"] == 1
    assert out["n_admitted"] == 3
    assert out["n_hosts"] == 2
    assert out["max_host_queue"] == 2
    # host a: /ok/2 (prio 9) slot 0, /ok/1 slot 1 at 3000ms
    assert out["max_span_ms"] == 3000
    sched = {r.url: (r.slot, r.fetch_at_ms)
             for r in spark.read.parquet(f"{ROOT}/admit").collect()}
    assert sched["https://a.example/ok/2?q=1"] == (0, 0)
    assert sched["https://a.example/ok/1"] == (1, 3000)
    assert sched["https://b.example/anything"] == (0, 0)


def test_table_profile_expectations_flag(cli):
    """--expect wires check_expectations into the profiler CLI: clean
    TPC-H orders report 0 violations for true constraints and n>0 for a
    deliberately false range bound."""
    out = cli("table_profile", [
        "--table", "/root/testdata/sf0.001/orders.parquet",
        "--expect", "not_null:o_custkey,range_min:o_totalprice:0,"
                    "unique:o_orderkey,regexp:o_orderpriority:^[1-5]-,"
                    "range_min:o_totalprice:100000",
    ])
    e = out["expectations"]
    assert e["not_null:o_custkey"] == 0
    assert e["range:o_totalprice>=0.0"] == 0
    assert e["unique:o_orderkey"] == 0
    assert e["regexp:o_orderpriority"] == 0
    assert e["range:o_totalprice>=100000.0"] > 0


def test_geo_tools_cli(cli, spark):
    pts = spark.createDataFrame(
        [(1, 100, 100), (2, 900, 100), (3, 5000, 5000), (4, 100, 1100)],
        "pid long, lat_e6 long, lon_e6 long",
    )
    pp = f"{ROOT}/geo_pts"
    pts.write.mode("overwrite").parquet(pp)
    res = cli("geo_tools", [
        "--op", "density", "--points", pp, "--cell-e6", "1000",
    ])
    assert res["rows"] == 3  # pids 1+2 share a cell; 3 and 4 are alone
    assert res["candidate_rows_forecast"] >= 4
    res = cli("geo_tools", [
        "--op", "pairs", "--points", pp, "--cell-e6", "1000",
        "--r-e6", "1000", "--out", f"{ROOT}/geo_pairs",
    ])
    # (1,2) d=800 and (1,4) d=1000 qualify; (2,4) at ~1131 does not
    assert res["rows"] == 2
    got = {
        (r.pid_a, r.pid_b)
        for r in spark.read.parquet(f"{ROOT}/geo_pairs").collect()
    }
    assert got == {(1, 2), (1, 4)}
    res = cli("geo_tools", [
        "--op", "knn", "--points", pp, "--cell-e6", "1000", "--k", "1",
    ])
    assert res["rows"] == 3  # pid 3 is isolated beyond the 3x3 window
    regions = spark.createDataFrame(
        [(7, 0, 0, 1000, 1500)], "region_id long, x0 long, y0 long,"
        " x1 long, y1 long",
    )
    rp = f"{ROOT}/geo_regions"
    regions.write.mode("overwrite").parquet(rp)
    res = cli("geo_tools", [
        "--op", "bbox", "--points", pp, "--cell-e6", "1000",
        "--regions", rp,
    ])
    # box is lon in [0,1000] x lat in [0,1500]: pids 1,2 inside; 4 is
    # out on lon (1100 > 1000); 3 is far outside
    assert res["rows"] == 2


def test_kg_tools_entail(cli, spark):
    edges = spark.createDataFrame(
        [("a", "works_for", "co"), ("x", "peer_of", "y")],
        "subj string, pred string, obj string",
    )
    ep = f"{ROOT}/kt_ent_edges"
    edges.write.mode("overwrite").parquet(ep)
    inv = spark.createDataFrame(
        [("works_for", "employs"), ("peer_of", "peer_of")],
        "pred string, ipred string",
    )
    ip = f"{ROOT}/kt_ent_inv"
    inv.write.mode("overwrite").parquet(ip)
    res = cli("kg_tools", [
        "--op", "entail", "--edges", ep, "--inverses", ip,
        "--out", f"{ROOT}/kt_ent_out",
    ])
    assert res["rows"] == 4  # 2 asserted + 2 entailed
    got = {
        (r.subj, r.pred, r.obj, r.asserted)
        for r in spark.read.parquet(f"{ROOT}/kt_ent_out").collect()
    }
    assert ("co", "employs", "a", 0) in got
    assert ("y", "peer_of", "x", 0) in got
