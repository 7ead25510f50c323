"""Pure-function unit tests (SURVEY.md §5.2 tier 1) — no Spark."""

import re

import pyarrow.parquet as pq

from mxsparkg import textcore as tc
from mxsparkg.lexicons import build_lexicons
from mxsparkg.model import DEFAULT_RULES, PREDICATE_PATTERNS


def test_extract_inverse_identity():
    text = "le président Jean Martin visite Paris .\nla séance est levée ."
    html = (
        "<html><head><title></title><script>x<y&z</script></head><body>"
        + "".join(f"<p>{tc.html_escape(ln)}</p>" for ln in text.split("\n"))
        + "</body></html>"
    ).encode("utf-8")
    assert tc.pinned_extract(html) == text


def test_extract_entities_and_junk():
    assert tc.pinned_extract(b"<p>a &amp; b &lt;c&gt; &#233;</p>") == "a & b <c> é"
    assert tc.pinned_extract(b"") == ""
    assert tc.pinned_extract(None) == ""
    assert tc.pinned_extract(b"<style>p{}</style><p> x </p>") == "x"


# the regexes pinned_extract was first written with: the reference for
# its linear-time rewrites
_SCRIPT_RE_REF = re.compile(rb"<(script|style)\b[^>]*>.*?</\1\s*>", re.I | re.S)
_TAG_RE_REF = re.compile(rb"<[^>]*>")


def test_extract_strip_equals_regex_reference():
    """Hypothesis: the script/style and tag strippers equal the regex
    substitutions on pages built from the pieces those regexes care about
    (open/close tags in any case, stray `<`/`>`, whitespace, word chars
    right after the tag name, nothing closed at all)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    piece = st.sampled_from([
        b"<script>", b"<STYLE>", b"</script>", b"</Style>", b"</style \n>",
        b"<script", b"<style", b"<scripts", b"</SCRIPT", b"</style",
        b"</scripts", b"<", b">", b" ", b"\t", b"a", b"-", b"<p>",
    ])

    @settings(max_examples=2000, deadline=None)
    @given(st.lists(piece, max_size=30))
    def check(pieces):
        b = b"".join(pieces)
        assert tc._strip_script_style(b) == _SCRIPT_RE_REF.sub(b"", b)
        assert tc._strip_tags(b) == _TAG_RE_REF.sub(b"", b)

    check()


def test_extract_unclosed_script_is_linear():
    """A 200 KB page of open tags that never close: the regex form took
    26 s (`<script>a `) and 8 s (`<script a `, no `>` at all)."""
    import time

    for page in (b"<script>a " * 20000, b"<script a " * 20000,
                 b"<style>" + b"</script>" * 20000):
        t0 = time.perf_counter()
        tc.pinned_extract(page)
        assert time.perf_counter() - t0 < 1.0


def test_extract_fixture_identity(tiny_fixtures):
    rows = pq.read_table(f"{tiny_fixtures}/pages.parquet").to_pylist()
    assert rows and all(tc.pinned_extract(r["html"]) == r["text"] for r in rows)


def test_tokenize_offsets():
    text = "Jean Martin visite Paris, c'est vrai."
    for tok, s, e in tc.tokenize(text):
        assert text[s:e] == tok


def test_sentence_split():
    toks = tc.tokenize("a b . c d ! e")
    sents = tc.split_sentences(toks)
    assert [len(s) for s in sents] == [3, 3, 1]


def test_shapes():
    assert tc.shape("Paris") == "Xxx"
    assert tc.shape("NASA") == "XXX"
    assert tc.shape("martin") == "xxx"
    assert tc.shape("1984") == "NUM"
    assert tc.shape(".") == "PUNCT"


def test_generalize_hierarchy():
    lex = build_lexicons()
    items = tc.generalize("Jean", lex)
    assert items[0] == "jean"
    assert "FIRSTNAME" in items
    assert items[-1] == "Xxx"


def test_trie_match_and_resolve():
    lex = build_lexicons()
    trie = tc.build_trie(DEFAULT_RULES)
    text = "le président Jean Martin visite Paris ."
    mentions, triples = tc.tag_text(text, trie, lex, PREDICATE_PATTERNS)
    spans = {(m["surface"], m["etype"]) for m in mentions}
    assert ("Jean Martin", "pers") in spans
    assert ("Paris", "loc") in spans
    assert [(t["pred"], t["subj"], t["obj"]) for t in triples] == [
        ("visits", "jean martin", "paris")
    ]


def test_conflict_resolution_prefers_score_then_length():
    matches = [(0, 2, "pers", 2.5, 3), (0, 1, "func", 0.5, 7), (1, 2, "loc", 1.5, 6)]
    picked = tc.resolve_matches(matches)
    assert picked == [(0, 2, "pers", 2.5, 3)]


def test_mention_offsets_byte_exact(tiny_fixtures):
    rows = pq.read_table(f"{tiny_fixtures}/gold_mentions.parquet").to_pylist()
    pages = {
        r["url"]: r["text"]
        for r in pq.read_table(f"{tiny_fixtures}/pages.parquet").to_pylist()
    }
    assert rows
    for m in rows:
        assert pages[m["url"]][m["m_start"] : m["m_end"]] == m["surface"]


def test_parse_annotated_roundtrip():
    line = "le président <pers> Jean Martin </pers> visite <loc> Paris </loc> ."
    clean, spans = tc.parse_annotated(line)
    assert clean == "le président Jean Martin visite Paris ."
    assert (13, 24, "pers") in spans
    assert clean[13:24] == "Jean Martin"
    assert (32, 37, "loc") in spans
    assert clean[32:37] == "Paris"


def test_annotated_sequence_has_marker_items():
    lex = build_lexicons()
    seq = tc.annotated_to_sequence(
        "<pers> Jean </pers> visite <loc> Paris </loc>", lex
    )
    flat = [i for s in seq for i in s]
    assert "<pers>" in flat and "</pers>" in flat and "TOPONYM" in flat


def test_tokenize_pages_offsets_byte_exact(spark, tiny_fixtures):
    """U2 tokens table: every token's (start, end) indexes text exactly
    (the offset contract that makes mention spans byte-accurate)."""
    from mxsparkg.extract import extract_pages
    from mxsparkg.tokenize import tokenize_pages

    pages = spark.read.parquet(f"{tiny_fixtures}/pages.parquet").limit(20)
    clean = extract_pages(pages)
    texts = {r["url"]: r["text"] for r in clean.collect()}
    rows = tokenize_pages(clean).collect()
    assert rows
    n_checked = 0
    for r in rows:
        text = texts[r["url"]]
        for t in r["toks"]:
            assert text[t["start"]:t["end"]] == t["tok"]
            assert t["gen"][0] == t["tok"].lower()
            n_checked += 1
    assert n_checked > 100


def test_compiled_matcher_equals_reference_dfs():
    """Property: the compiled epsilon-closure matcher (build_trie +
    match_sentence) returns exactly the reference DFS's match set on
    randomized rule sets and sentences — markers folded, semantics
    unchanged."""
    import random

    from mxsparkg.textcore import (
        _build_trie_raw,
        _match_sentence_ref,
        build_trie,
        match_sentence,
    )

    rng = random.Random(4242)
    items = ["a", "b", "c", "d", "e", "NUM", "Xxx"]
    for trial in range(60):
        rules = []
        for rid in range(rng.randint(1, 25)):
            ety = rng.choice(["pers", "loc", "org"])
            pre = [rng.choice(items) for _ in range(rng.randint(0, 2))]
            body = [rng.choice(items) for _ in range(rng.randint(1, 3))]
            post = [rng.choice(items) for _ in range(rng.randint(0, 2))]
            rules.append({
                "pattern": pre + [f"<{ety}>"] + body + [f"</{ety}>"] + post,
                "etype": ety,
                "score": round(rng.uniform(0.1, 1.0), 3),
                "rule_id": rid,
            })
        raw = _build_trie_raw(rules)
        compiled = build_trie(rules)
        for _ in range(20):
            sent = [
                frozenset(rng.sample(items, rng.randint(1, 3)))
                for _ in range(rng.randint(1, 12))
            ]
            got = set(match_sentence(compiled, sent))
            want = set(_match_sentence_ref(raw, sent))
            assert got == want, (trial, sent, got ^ want)
