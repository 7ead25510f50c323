"""Round-5h batch: the crawl admission-control layer — robots.txt
longest-match allow/deny (RFC 9309 semantics), sitemap <loc> discovery,
and magic-byte MIME sniffing. Pins the REP decision table closed-form
(default-allow, prefix override, blanket-deny-with-rescue, tie→allow),
the sitemap round-trip + deterministic body order under adversarial
partitioning, and the sniffer's byte-prefix decisions including the
unknown-junk fallthrough."""

from __future__ import annotations

from pyspark.sql import functions as F


def _docs_df(spark, n=70, parts=1):
    rows = [(i, f"text {i}", "fr", "web", 10) for i in range(n)]
    return spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint").repartition(parts)


def _write_docs(spark, tmp_path, n=70, parts=1):
    _docs_df(spark, n, parts).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_robots_decision_table(spark, tmp_path):
    """Every (host class, path class) cell of the planted REP fixture:
    h%3==0 hosts are blanket-denied with /public rescued; even hosts
    deny /tmp; all hosts deny /private but allow /private/ok."""
    from mxsparkg.datapipe import crawl_robots

    sf = _write_docs(spark, tmp_path, n=70)
    got = {r.doc_id: (r.allowed, r.rule_len)
           for r in crawl_robots(spark, sf).collect()}
    assert len(got) == 70
    for doc_id, (allowed, rule_len) in got.items():
        h, cls = doc_id % 7, doc_id % 5
        if cls == 0:                       # /private/data -> denied
            want = (0, 8)
        elif cls == 1:                     # /private/ok -> allow override
            want = (1, 11)
        elif cls == 2:                     # /public
            want = (1, 7) if h % 3 == 0 else (1, 0)
        elif cls == 3:                     # /tmp
            if h % 2 == 0:
                want = (0, 4)
            elif h % 3 == 0:
                want = (0, 1)              # blanket '/' deny
            else:
                want = (1, 0)              # no rule -> default allow
        else:                              # /index
            want = (0, 1) if h % 3 == 0 else (1, 0)
        assert (allowed, rule_len) == want, (doc_id, h, cls, allowed,
                                             rule_len, want)


def test_robots_host_and_path_ride_along(spark, tmp_path):
    from mxsparkg.datapipe import crawl_robots

    sf = _write_docs(spark, tmp_path, n=14)
    r = {x.doc_id: x for x in crawl_robots(spark, sf).collect()}
    assert r[9].host == "site2" and r[9].path == "/index/9"
    assert r[10].host == "site3" and r[10].path == "/private/data/10"


def test_robots_rules_broadcast_no_bnlj(spark, tmp_path):
    """The rule table must ride a BroadcastHashJoin; the theta startswith
    condition must not degrade the equi-join on host into a
    nested-loop."""
    from mxsparkg.datapipe import crawl_robots

    sf = _write_docs(spark, tmp_path, n=70)
    plan = (crawl_robots(spark, sf)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sitemap_round_trip_and_partition_invariance(spark, tmp_path):
    """Every planted doc comes back as exactly one <loc> row for its
    host, n_locs matches the per-host entry count, and a hostile 13-way
    repartition of the input changes nothing (deterministic body
    order)."""
    from mxsparkg.datapipe import crawl_sitemap

    sf = _write_docs(spark, tmp_path, n=70, parts=1)
    one = sorted((r.host, r.loc_url, r.n_locs)
                 for r in crawl_sitemap(spark, sf).collect())
    sf13 = _write_docs(spark, tmp_path, n=70, parts=13)
    many = sorted((r.host, r.loc_url, r.n_locs)
                  for r in crawl_sitemap(spark, sf13).collect())
    assert one == many
    assert len(one) == 70
    want = sorted(
        (f"site{i % 7}", f"https://site{i % 7}/page/{i}", 10)
        for i in range(70))
    assert one == want


def test_mime_sniff_decisions(spark, tmp_path):
    """Each planted magic prefix maps to its MIME class; the junk class
    falls through to application/octet-stream; payload_len counts BYTES
    (8 per planted payload), not hex chars."""
    from mxsparkg.datapipe import MIME_MAGIC, crawl_mime_sniff

    sf = _write_docs(spark, tmp_path, n=21)
    got = {r.doc_id: (r.mime, r.payload_len)
           for r in crawl_mime_sniff(spark, sf).collect()}
    assert len(got) == 21
    for doc_id, (mime, plen) in got.items():
        assert mime == MIME_MAGIC[doc_id % len(MIME_MAGIC)][1], (doc_id,
                                                                 mime)
        assert plen == 8
    assert got[6][0] == "application/octet-stream"


def test_mime_sniff_is_pure_codegen(spark, tmp_path):
    """No shuffle, no Python: the sniffer is a single projected scan."""
    from mxsparkg.datapipe import crawl_mime_sniff

    sf = _write_docs(spark, tmp_path, n=21)
    plan = (crawl_mime_sniff(spark, sf)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_redirects_chain_loop_and_cap(spark, tmp_path):
    """Classes by doc_id%10: 0-5 ok/0 hops; 6/7/8 chains of exactly
    1/2/3 hops landing on the r0 terminal; 9 loops (self or the planted
    49<->99 2-cycle) hit the cap as too_many_redirects with the walk
    parked where the cap left it (even cap => 2-cycle parks at the
    origin)."""
    from mxsparkg.datapipe import crawl_redirects

    sf = _write_docs(spark, tmp_path, n=200)
    got = {r.url: r for r in crawl_redirects(spark, sf).collect()}
    assert len(got) == 200
    for i in range(200):
        r, u = i % 10, f"https://u/{i}"
        if r < 6:
            want = (f"https://u/{i}", 0, "ok")
        elif r == 6:
            want = (f"https://u/{i - 6}", 1, "redirected")
        elif r == 7:
            want = (f"https://u/{i - 7}", 2, "redirected")
        elif r == 8:
            want = (f"https://u/{i - 8}", 3, "redirected")
        else:
            want = (f"https://u/{i}", 4, "too_many_redirects")
        g = got[u]
        assert (g.terminal_url, g.hops, g.status) == want, (i, g)


def test_schedule_slots_and_politeness_delay(spark, tmp_path):
    """Per-host slots are dense 0..k-1, ordered by priority desc then
    doc_id, and fetch_at_ms = slot x the host's planted crawl delay."""
    from mxsparkg.datapipe import CRAWL_DELAY_BASE_MS, crawl_schedule

    sf = _write_docs(spark, tmp_path, n=70)
    rows = crawl_schedule(spark, sf).collect()
    byhost = {}
    for r in rows:
        byhost.setdefault(r.host, []).append(r)
    assert set(byhost) == {f"site{h}" for h in range(7)}
    for host, rs in byhost.items():
        h = int(host[4:])
        rs.sort(key=lambda r: r.slot)
        assert [r.slot for r in rs] == list(range(len(rs)))
        prios = [(-(r.doc_id % 13), r.doc_id) for r in rs]
        assert prios == sorted(prios)
        for r in rs:
            assert r.fetch_at_ms == r.slot * (h % 3 + 1) * \
                CRAWL_DELAY_BASE_MS


def test_robots_admit_parity_with_gate_key(spark, tmp_path):
    """The production robots_admit (arbitrary tables) must make the same
    decisions as the cross-engine-certified crawl_robots gate key on the
    gate key's own planted fixture."""
    from mxsparkg.datapipe import ROBOTS_HOSTS, crawl_robots
    from mxsparkg.weblinks import robots_admit

    sf = _write_docs(spark, tmp_path, n=70)
    want = {r.doc_id: (r.allowed, r.rule_len)
            for r in crawl_robots(spark, sf).collect()}

    d = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id")
    frontier = d.select(
        "doc_id",
        F.concat(F.lit("site"),
                 (F.col("doc_id") % ROBOTS_HOSTS).cast("string"))
        .alias("host"),
        F.expr(
            "CASE CAST(doc_id % 5 AS INT)"
            "  WHEN 0 THEN concat('/private/data/', doc_id)"
            "  WHEN 1 THEN concat('/private/ok/', doc_id)"
            "  WHEN 2 THEN concat('/public/page/', doc_id)"
            "  WHEN 3 THEN concat('/tmp/cache/', doc_id)"
            "  ELSE concat('/index/', doc_id) END"
        ).alias("path"),
    )
    rows = []
    for h in range(ROBOTS_HOSTS):
        rows.append((f"site{h}", "/private", 0))
        rows.append((f"site{h}", "/private/ok", 1))
        if h % 2 == 0:
            rows.append((f"site{h}", "/tmp", 0))
        if h % 3 == 0:
            rows.append((f"site{h}", "/", 0))
            rows.append((f"site{h}", "/public", 1))
    rules = spark.createDataFrame(rows, "host string, prefix string,"
                                        " allow int")
    got = {r.doc_id: (r.allowed, r.rule_len)
           for r in robots_admit(frontier, rules).collect()}
    assert got == want


def test_politeness_schedule_delays_and_order(spark):
    from mxsparkg.weblinks import politeness_schedule

    frontier = spark.createDataFrame(
        [("https://a/1", "a", 5), ("https://a/2", "a", 9),
         ("https://a/3", "a", 9), ("https://b/1", "b", 1)],
        "url string, host string, priority int",
    )
    delays = spark.createDataFrame(
        [("a", 2000)], "host string, delay_ms bigint")
    got = {r.url: (r.slot, r.fetch_at_ms)
           for r in politeness_schedule(
               frontier, delays=delays, default_delay_ms=500,
               priority_col="priority").collect()}
    # host a: prio desc, url tiebreak -> /2, /3, /1 at 2000ms spacing
    assert got["https://a/2"] == (0, 0)
    assert got["https://a/3"] == (1, 2000)
    assert got["https://a/1"] == (2, 4000)
    # host b missing from delays -> default 500ms
    assert got["https://b/1"] == (0, 0)


def test_qa_expectations_closed_form(spark, tmp_path):
    """Synthesized orders with keys 0..199: each planted residue class
    yields an exactly countable violation set (classes overlap on
    purpose — checks are per-column independent), and n_checked counts
    the duplicated rows too."""
    import datetime as dt

    from mxsparkg.contract import contract_queries

    n = 200
    ts = dt.datetime(2026, 1, 1)
    rows = [(k, 10 + k, "OFP"[k % 3], 100.0 + k, ts, "3-MEDIUM")
            for k in range(n)]
    spark.createDataFrame(
        rows, "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string"
    ).write.parquet(str(tmp_path / "orders.parquet"))
    got = {r.exp_name: (r.n_checked, r.n_violations)
           for r in contract_queries()["qa_expectations"](
               spark, str(tmp_path)).collect()}
    dups = len([k for k in range(n) if k % 101 == 13])          # 13, 114
    total = n + dups
    def viol(m, r):
        base = len([k for k in range(n) if k % m == r])
        extra = len([k for k in range(n) if k % m == r and k % 101 == 13])
        return base + extra
    assert got["not_null:o_custkey"] == (total, viol(97, 3))
    assert got["range:o_totalprice>=0"] == (total, viol(89, 5))
    assert got["in_set:o_orderstatus"] == (total, viol(83, 7))
    assert got["regexp:o_orderpriority"] == (total, viol(79, 11))
    assert got["unique:o_orderkey"] == (total, dups)


def test_check_expectations_parity_with_gate_key(spark, tmp_path):
    """The production check_expectations (arbitrary specs) must make the
    gate key's exact decisions on the gate key's own dirty table."""
    from pyspark.sql import functions as F

    from mxsparkg.contract import _t, contract_queries
    from mxsparkg.datapipe import check_expectations

    import datetime as dt

    n, ts = 150, dt.datetime(2026, 1, 1)
    rows = [(k, 10 + k, "OFP"[k % 3], 100.0 + k, ts, "3-MEDIUM")
            for k in range(n)]
    spark.createDataFrame(
        rows, "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string"
    ).write.parquet(str(tmp_path / "orders.parquet"))
    sf = str(tmp_path)
    want = {r.exp_name: (r.n_checked, r.n_violations)
            for r in contract_queries()["qa_expectations"](
                spark, sf).collect()}

    o = _t(spark, sf, "orders")
    dirty = o.select(
        F.when(F.col("o_orderkey") % 97 == 3, F.lit(None))
        .otherwise(F.col("o_custkey")).alias("custkey"),
        F.when(F.col("o_orderkey") % 89 == 5, -F.col("o_totalprice"))
        .otherwise(F.col("o_totalprice")).alias("totalprice"),
        F.when(F.col("o_orderkey") % 83 == 7, F.lit("X"))
        .otherwise(F.col("o_orderstatus")).alias("status"),
        F.when(F.col("o_orderkey") % 79 == 11, F.lit("URGENT"))
        .otherwise(F.col("o_orderpriority")).alias("priority"),
        F.col("o_orderkey").alias("orderkey"),
    ).unionAll(
        o.filter(F.col("o_orderkey") % 101 == 13).select(
            "o_custkey", "o_totalprice", "o_orderstatus",
            "o_orderpriority", "o_orderkey",
        )
    )
    got = {r.exp_name: (r.n_checked, r.n_violations)
           for r in check_expectations(dirty, [
               ("not_null", "custkey"),
               ("range_min", "totalprice", 0),
               ("in_set", "status", ["O", "F", "P"]),
               ("regexp", "priority", "^[1-5]-"),
               ("unique", "orderkey"),
           ]).collect()}
    rename = {
        "not_null:custkey": "not_null:o_custkey",
        "range:totalprice>=0": "range:o_totalprice>=0",
        "in_set:status": "in_set:o_orderstatus",
        "regexp:priority": "regexp:o_orderpriority",
        "unique:orderkey": "unique:o_orderkey",
    }
    assert {rename[k]: v for k, v in got.items()} == want


def test_robots_parse_closes_the_chain(spark, tmp_path):
    """fetch -> PARSE -> admit: crawl_robots_parse's rule table is
    exactly the C2 fixture's (decoy otherbot group skipped, multi-UA
    header honored, comments/blank noise ignored, empty Disallow
    dropped), and feeding it to robots_admit reproduces the certified
    crawl_robots decisions end-to-end."""
    from mxsparkg.datapipe import (
        ROBOTS_HOSTS,
        crawl_robots,
        crawl_robots_parse,
    )
    from mxsparkg.weblinks import robots_admit

    sf = _write_docs(spark, tmp_path, n=70)
    got_rules = {(r.host, r.prefix, r.allow)
                 for r in crawl_robots_parse(spark, sf).collect()}
    want_rules = set()
    for h in range(ROBOTS_HOSTS):
        want_rules.add((f"site{h}", "/private", 0))
        want_rules.add((f"site{h}", "/private/ok", 1))
        if h % 2 == 0:
            want_rules.add((f"site{h}", "/tmp", 0))
        if h % 3 == 0:
            want_rules.add((f"site{h}", "/", 0))
            want_rules.add((f"site{h}", "/public", 1))
    assert got_rules == want_rules

    d = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id")
    frontier = d.select(
        "doc_id",
        F.concat(F.lit("site"),
                 (F.col("doc_id") % ROBOTS_HOSTS).cast("string"))
        .alias("host"),
        F.expr(
            "CASE CAST(doc_id % 5 AS INT)"
            "  WHEN 0 THEN concat('/private/data/', doc_id)"
            "  WHEN 1 THEN concat('/private/ok/', doc_id)"
            "  WHEN 2 THEN concat('/public/page/', doc_id)"
            "  WHEN 3 THEN concat('/tmp/cache/', doc_id)"
            "  ELSE concat('/index/', doc_id) END"
        ).alias("path"),
    )
    got = {r.doc_id: (r.allowed, r.rule_len)
           for r in robots_admit(
               frontier, crawl_robots_parse(spark, sf)).collect()}
    want = {r.doc_id: (r.allowed, r.rule_len)
            for r in crawl_robots(spark, sf).collect()}
    assert got == want


def test_robots_parse_colon_path_survives(spark):
    """A Disallow path containing a colon must split at the FIRST colon
    only (regression: last-segment splitting would emit 'b')."""
    from pyspark.sql import functions as F

    hosts = spark.createDataFrame([(0,)], ["h"])
    body = "User-agent: *\nDisallow: /a:b\n"
    lines = hosts.select(
        "h", F.posexplode(F.split(F.lit(body), "\n")).alias("ln", "raw")
    ).select("h", "ln",
             F.trim(F.regexp_replace("raw", "#.*", "")).alias("line"))
    val = F.trim(F.regexp_replace("line", "^[^:]*:", ""))
    got = [r.v for r in lines.filter(
        F.lower("line").rlike("^disallow:")).select(val.alias("v"))
        .collect()]
    assert got == ["/a:b"]


def test_robots_admit_property_vs_python_reference(spark):
    """Hypothesis: for random rule tables and frontiers (including the
    empty-prefix and identical-rule edge cases), robots_admit's
    distributed decision equals a 6-line Python reference of RFC 9309
    longest-match with allow-wins-ties."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from mxsparkg.weblinks import robots_admit

    seg = st.sampled_from(["/a", "/b", "/a/x", "/b/y", "/", ""])
    hostname = st.sampled_from(["h0", "h1"])
    rule = st.tuples(hostname, seg, st.integers(0, 1))
    pathname = st.sampled_from(
        ["/a", "/a/x", "/a/x/1", "/b", "/b/y/2", "/c", "/"])

    @settings(max_examples=8, deadline=None)
    @given(
        rules=st.lists(rule, min_size=0, max_size=6),
        urls=st.lists(st.tuples(hostname, pathname),
                      min_size=1, max_size=8),
    )
    def check(rules, urls):
        frontier = spark.createDataFrame(
            [(i, h, p) for i, (h, p) in enumerate(urls)],
            "uid int, host string, path string",
        )
        rules_df = spark.createDataFrame(
            rules or [("zz", "/never", 1)],
            "host string, prefix string, allow int",
        )
        eff_rules = rules or [("zz", "/never", 1)]
        got = {r.uid: (r.allowed, r.rule_len)
               for r in robots_admit(frontier, rules_df).collect()}
        for i, (h, p) in enumerate(urls):
            matching = [(len(pre), a) for (rh, pre, a) in eff_rules
                        if rh == h and p.startswith(pre)]
            want = max(matching) if matching else None
            want = (want[1], want[0]) if want else (1, 0)
            assert got[i] == want, (i, h, p, eff_rules, got[i], want)

    check()


def test_sitemap_index_recursion_and_shard_assignment(spark, tmp_path):
    """Every doc comes back exactly once through the two-level parse,
    attributed to the sub-sitemap its doc_id % SHARDS shard declares;
    the index→shard url join resolves for every shard."""
    from mxsparkg.datapipe import SITEMAP_SHARDS, crawl_sitemap_index

    sf = _write_docs(spark, tmp_path, n=70)
    rows = crawl_sitemap_index(spark, sf).collect()
    assert len(rows) == 70
    for r in rows:
        doc = int(r.loc_url.rsplit("/", 1)[1])
        h, j = doc % 7, doc % SITEMAP_SHARDS
        assert r.host == f"site{h}"
        assert r.sitemap_url == f"https://site{h}/sm{j}.xml"


def test_crawl_etld1_longest_match_and_fallback(spark, sf001):
    """eTLD+1: multi-label suffixes beat their single-label prefixes
    (co.uk wins over uk), registrable = one label past the suffix, and
    unknown TLDs fall back to last-label-is-suffix."""
    from mxsparkg.datapipe import crawl_etld1

    rows = {r.doc_id: r for r in crawl_etld1(spark, sf001).collect()}
    assert rows
    for r in rows.values():
        labels = r.host.split(".")
        if r.host.endswith(".co.uk"):
            assert r.etld == "co.uk" and r.n_suffix_labels == 2
            assert r.registrable == ".".join(labels[-3:])
        elif r.host.endswith(".xyz"):
            # unknown TLD -> default rule: last label is the suffix
            assert r.etld == "xyz" and r.n_suffix_labels == 1
            assert r.registrable == ".".join(labels[-2:])
        # registrable is always etld plus exactly one more label
        assert r.registrable.endswith("." + r.etld) or r.etld == r.registrable
        assert r.registrable.count(".") == r.etld.count(".") + 1
        # the host belongs to its registrable domain
        assert r.host.endswith(r.registrable)
