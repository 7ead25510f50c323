"""Pure-Python text core — shared verbatim by reference_impl/ (the
single-node oracle tagger) and the Spark pandas/Arrow UDF stages.

Because the same functions run in both, the Spark pipeline's per-url
extracted text is byte-identical to the reference by construction
(BASELINE.json input_hint invariant), and triple P/R vs the reference is
1.0 on deterministic fixtures (north_rule ≥0.95).

Semantics reconstructed from mXS's published papers (sequential-pattern
transduction rules over generalized token streams; markers as sequence
items) — the reference checkout was empty, see SURVEY.md §0.

No third-party imports: this module must be importable inside Spark's
Python workers with zero environment drift.
"""

from __future__ import annotations

import hashlib
import re
from bisect import bisect_left

# --------------------------------------------------------------------------
# U1 — pinned HTML → text extraction
# --------------------------------------------------------------------------

_SCRIPT_OPEN_RE = re.compile(rb"<(script|style)\b", re.I)
_SCRIPT_CLOSE_RE = re.compile(rb"</(script|style)\s*>", re.I)
_BLOCK_CLOSE_RE = re.compile(
    rb"</(p|div|h[1-6]|li|tr|title|br)\s*>|<br\s*/?>", re.I
)
_TAG_RE = re.compile(rb"<[^>]*>")
_ENTITIES = {
    b"&amp;": b"&",
    b"&lt;": b"<",
    b"&gt;": b">",
    b"&quot;": b'"',
    b"&#39;": b"'",
    b"&apos;": b"'",
    b"&nbsp;": b" ",
}
_NUMENT_RE = re.compile(rb"&#(\d{1,7});")


def pinned_extract(html: bytes) -> str:
    """Deterministic, dependency-free HTML→text. Pinned forever.

    Contract: line-oriented. Block-closing tags become newlines, all other
    tags vanish, basic entities are decoded, each line is stripped, empty
    lines are dropped, lines join with "\\n". The fixture generator is the
    exact inverse (wrap each line in <p>escape(line)</p>), which makes
    extract(html) == text provable byte-for-byte.
    """
    if html is None:
        return ""
    b = _strip_script_style(html)
    b = _BLOCK_CLOSE_RE.sub(b"\n", b)
    b = _strip_tags(b)
    for ent, rep in _ENTITIES.items():
        b = b.replace(ent, rep)
    b = _NUMENT_RE.sub(lambda m: chr(int(m.group(1))).encode("utf-8"), b)
    text = b.decode("utf-8", errors="replace")
    lines = [ln.strip() for ln in text.split("\n")]
    return "\n".join(ln for ln in lines if ln)


def _strip_script_style(b: bytes) -> bytes:
    r"""Removes what `<(script|style)\b[^>]*>.*?</\1\s*>` (re.I | re.S)
    matches, in linear time. The regex rescans to the end of the page from
    every unclosed open tag; here each open tag finds the first `>` after
    it (shared by a run of open tags, so all those scans cover the page
    once) and then its close tag by bisecting the close tags' positions,
    listed once up front."""
    closes: dict[bytes, tuple[list[int], list[int]]] = {
        b"script": ([], []), b"style": ([], [])}
    for m in _SCRIPT_CLOSE_RE.finditer(b):
        starts, ends = closes[m.group(1).lower()]
        starts.append(m.start())
        ends.append(m.end())
    if not (closes[b"script"][0] or closes[b"style"][0]):
        return b
    out, pos, gt = [], 0, -1
    for m in _SCRIPT_OPEN_RE.finditer(b):
        if m.start() < pos:  # inside an element already removed
            continue
        if gt < m.end():
            gt = b.find(b">", m.end())
            if gt < 0:  # no open tag from here on can end
                break
        starts, ends = closes[m.group(1).lower()]
        k = bisect_left(starts, gt + 1)
        if k < len(starts):
            out.append(b[pos:m.start()])
            pos = ends[k]
    out.append(b[pos:])
    return b"".join(out)


def _strip_tags(b: bytes) -> bytes:
    """`_TAG_RE.sub(b"", b)` without its quadratic failures: a `<` after
    the last `>` can never close, so only the prefix up to it is scanned."""
    end = b.rfind(b">") + 1
    return _TAG_RE.sub(b"", b[:end]) + b[end:]


def html_escape(s: str) -> str:
    """Inverse-side escaping used by the fixture generator."""
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )


def sha2_text(s: str) -> str:
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


# --------------------------------------------------------------------------
# U2 — tokenization + mXS-style generalization hierarchy
# --------------------------------------------------------------------------

_TOKEN_RE = re.compile(r"[A-Za-zÀ-ɏ]+|\d+|[^\sA-Za-zÀ-ɏ\d]")
_SENT_END = {".", "!", "?"}


def tokenize(text: str) -> list[tuple[str, int, int]]:
    """(token, start, end) character offsets; text[start:end] == token."""
    return [(m.group(0), m.start(), m.end()) for m in _TOKEN_RE.finditer(text)]


def split_sentences(
    tokens: list[tuple[str, int, int]],
) -> list[list[tuple[str, int, int]]]:
    """Sentence = tokens up to and including . ! ? (newline handled upstream
    because tokenize is called per extracted line when needed)."""
    sents: list[list[tuple[str, int, int]]] = []
    cur: list[tuple[str, int, int]] = []
    for t in tokens:
        cur.append(t)
        if t[0] in _SENT_END:
            sents.append(cur)
            cur = []
    if cur:
        sents.append(cur)
    return sents


def shape(tok: str) -> str:
    if tok.isdigit():
        return "NUM"
    if not tok[0].isalpha():
        return "PUNCT"
    if tok.isupper() and len(tok) > 1:
        return "XXX"
    if tok[0].isupper():
        return "Xxx"
    return "xxx"


def generalize(tok: str, lexicons: dict[str, list[str]]) -> list[str]:
    """Ordered most-specific → most-abstract item list for one token.

    mXS's hierarchy: surface(lower) → lexicon categories → shape class.
    Each token is matched as a small SET of items; rules reference any level.
    """
    low = tok.lower()
    items = [low]
    items.extend(lexicons.get(low, ()))
    items.append(shape(tok))
    return items


# --------------------------------------------------------------------------
# M2 — rule trie (markers are sequence items, the core mXS trick)
# --------------------------------------------------------------------------
#
# A rule is a dict:
#   {"pattern": [item...], "etype": str, "score": float, "rule_id": int}
# where pattern contains exactly one "<etype>" ... "</etype>" marker pair;
# non-marker items match against a token's generalization set and consume
# one token; marker items consume nothing.

_ITEMS, _RULES, _OPENS, _CLOSES = 0, 1, 2, 3


def new_node() -> list:
    # [token-item children, terminal rules, open-marker children,
    #  close-marker children] — marker/item split precomputed at build time
    # so the match loop never string-tests items (hot path: runs per token
    # per trie node per document)
    return [{}, [], [], []]


def _build_trie_raw(rules: list[dict]) -> list:
    root = new_node()
    for r in rules:
        node = root
        for item in r["pattern"]:
            nxt = node[_ITEMS].get(item)
            if nxt is None:
                existing = (
                    dict(node[_OPENS] + node[_CLOSES]).get(item)
                )
                nxt = existing or new_node()
                if existing is None:
                    if item.startswith("</"):
                        node[_CLOSES].append((item, nxt))
                    elif item.startswith("<"):
                        node[_OPENS].append((item, nxt))
                    else:
                        node[_ITEMS][item] = nxt
            node = nxt
        node[_RULES].append(
            (float(r["score"]), int(r["rule_id"]), str(r["etype"]))
        )
    # root[ _FIRST ]: every item that can CONSUME the first token of any
    # rule — root item children plus the item children of marker-opening
    # roots (markers consume nothing). match_sentence skips DFS at start
    # positions whose genset misses this set entirely; on noise-dominated
    # web text most positions skip.
    first = set(root[_ITEMS])
    for _tag, child in root[_OPENS]:
        first.update(child[_ITEMS])
    root.append(first)
    return root


def is_marker(item: str) -> bool:
    return item.startswith("<")


# Compiled-trie node layout. The raw trie's open/close marker children are
# EPSILON moves (they consume no token): the DFS used to push each marker
# child as its own stack entry, pop it, and only then try an item — 37% of
# all stack traffic on the mined 1680-rule model (measured). Compilation
# folds the one-marker-deep epsilon closure into per-state transition maps,
# so every pop does exactly one item lookup round:
#   _A: op unset             item -> ((child, opened_here), ...)
#   _B: op set, cl unset     item -> ((child, closed_here), ...)
#       _BR: rules that fire when a close marker is crossed HERE (cl=ti)
#   _C: op+cl set            item -> child        _CR: terminal rules
# Closure depth is exactly 1: after crossing <x> at ti, </x> needs ti > op
# (impossible at the same ti), and second opens/closes are blocked by the
# op/cl-already-set guards — so no deeper chains exist to fold.
_A, _B, _BR, _C, _CR = 0, 1, 2, 3, 4

# Compiled trie: (root_node, first frozenset, vocab frozenset, prune_cache).
# vocab = every item consumable anywhere in the trie (93 items on the mined
# model vs ~10^5 distinct surface tokens): intersecting each token's gen set
# with it ONCE (memoized by gen-frozenset — Zipfian, so hits dominate) lets
# the match loop iterate 0-3 relevant items instead of ~6.
_PRUNE_CACHE_MAX = 500_000


def _compile_node(raw: list, memo: dict, vocab: set) -> tuple:
    done = memo.get(id(raw))
    if done is not None:
        return done
    node = [None, None, None, None, None]
    memo[id(raw)] = node  # placeholder: safe under child sharing
    c_map = {}
    a_map: dict[str, list] = {}
    b_map: dict[str, list] = {}
    for it, ch in raw[_ITEMS].items():
        vocab.add(it)
        cch = _compile_node(ch, memo, vocab)
        c_map[it] = cch
        a_map.setdefault(it, []).append((cch, False))
        b_map.setdefault(it, []).append((cch, False))
    for _tag, och in raw[_OPENS]:
        for it, ch in och[_ITEMS].items():
            vocab.add(it)
            a_map.setdefault(it, []).append(
                (_compile_node(ch, memo, vocab), True)
            )
    b_rules: list = []
    for _tag, cch in raw[_CLOSES]:
        b_rules.extend(cch[_RULES])
        for it, ch in cch[_ITEMS].items():
            vocab.add(it)
            b_map.setdefault(it, []).append(
                (_compile_node(ch, memo, vocab), True)
            )
    node[_A] = {k: tuple(v) for k, v in a_map.items()}
    node[_B] = {k: tuple(v) for k, v in b_map.items()}
    node[_BR] = tuple(b_rules)
    node[_C] = c_map
    node[_CR] = tuple(raw[_RULES])
    compiled = tuple(node)
    memo[id(raw)] = compiled
    return compiled


def build_trie(rules: list[dict]) -> tuple:
    """rules → compiled matcher trie (see _compile_node layout)."""
    raw = _build_trie_raw(rules)
    vocab: set = set()
    memo: dict = {}
    root = _compile_node(raw, memo, vocab)
    return (root, frozenset(root[_A]), frozenset(vocab), {})


def match_sentence(
    ctrie: tuple, gen_sets: list[frozenset], max_matches: int = 64
) -> list[tuple[int, int, str, float, int]]:
    """All rule matches in one sentence.

    gen_sets[i] = frozenset of generalization items of token i.
    Returns (tok_open, tok_close, etype, score, rule_id): mention spans
    tokens [tok_open, tok_close). Semantics are identical to the reference
    DFS (_match_sentence_ref) — property-tested equivalent on randomized
    models/sentences.
    """
    root, first, vocab, prune_cache = ctrie
    if len(prune_cache) > _PRUNE_CACHE_MAX:
        prune_cache.clear()
    n = len(gen_sets)
    pruned: list[tuple] = []
    for gs in gen_sets:
        pg = prune_cache.get(gs)
        if pg is None:
            pg = tuple(vocab.intersection(gs))
            prune_cache[gs] = pg
        pruned.append(pg)
    best: dict[tuple[int, int, str], tuple[float, int]] = {}
    for start in range(n):
        sp = pruned[start]
        if not sp or first.isdisjoint(sp):
            continue
        # stack of (node, tok_idx, open_pos, close_pos); markers are
        # pre-folded, so every entry consumes exactly one item on pop
        stack = [(root, start, -1, -1)]
        while stack:
            node, ti, op, cl = stack.pop()
            if op < 0:
                if ti < n:
                    amap = node[_A]
                    for it in pruned[ti]:
                        for child, opened in amap.get(it, ()):
                            stack.append(
                                (child, ti + 1, ti if opened else -1, -1)
                            )
            elif cl < 0:
                for score, rule_id, etype in node[_BR]:
                    key = (op, ti, etype)
                    cur = best.get(key)
                    if cur is None or (-score, rule_id) < (-cur[0], cur[1]):
                        best[key] = (score, rule_id)
                if ti < n:
                    bmap = node[_B]
                    for it in pruned[ti]:
                        for child, closed in bmap.get(it, ()):
                            stack.append(
                                (child, ti + 1, op, ti if closed else -1)
                            )
            else:
                for score, rule_id, etype in node[_CR]:
                    key = (op, cl, etype)
                    cur = best.get(key)
                    if cur is None or (-score, rule_id) < (-cur[0], cur[1]):
                        best[key] = (score, rule_id)
                if ti < n:
                    cmap = node[_C]
                    for it in pruned[ti]:
                        child = cmap.get(it)
                        if child is not None:
                            stack.append((child, ti + 1, op, cl))
    out = [
        (op, cl, etype, score, rule_id)
        for (op, cl, etype), (score, rule_id) in best.items()
    ]
    if len(out) > max_matches * 4:
        out.sort(key=lambda m: (-m[3], m[0]))
        del out[max_matches * 4:]
    return out


def _match_sentence_ref(
    trie: list, gen_sets: list[frozenset], max_matches: int = 64
) -> list[tuple[int, int, str, float, int]]:
    """Reference DFS over the RAW trie (_build_trie_raw output) — the
    pre-compilation matcher, kept as the equivalence oracle for
    match_sentence (tests/test_textcore.py property test)."""
    n = len(gen_sets)
    # best match per (span, etype): a large mined rule set fires many rules
    # on the same span; only the best can ever survive conflict resolution
    # (a lower-scored same-span match is blocked by exactly the same
    # overlaps), so dedup here is semantics-preserving and keeps the
    # resolver input small
    best: dict[tuple[int, int, str], tuple[float, int]] = {}
    first = trie[4] if len(trie) > 4 else None
    for start in range(n):
        if first is not None and first.isdisjoint(gen_sets[start]):
            continue
        # DFS over (node, tok_idx, open_pos, close_pos)
        stack = [(trie, start, -1, -1)]
        while stack:
            node, ti, op, cl = stack.pop()
            if node[_RULES] and op >= 0 and cl >= 0:
                for score, rule_id, etype in node[_RULES]:
                    key = (op, cl, etype)
                    cur = best.get(key)
                    # prefer higher score; tie-break lower rule_id (the
                    # order resolve_matches would pick)
                    if cur is None or (-score, rule_id) < (-cur[0], cur[1]):
                        best[key] = (score, rule_id)
            if op < 0:
                for _item, child in node[_OPENS]:
                    stack.append((child, ti, ti, cl))
            elif cl < 0 and ti > op:
                for _item, child in node[_CLOSES]:
                    stack.append((child, ti, op, ti))
            if ti < n:
                items = node[_ITEMS]
                gs = gen_sets[ti]
                # intersect from the smaller side: gen sets are ~4 items,
                # mined-trie fanout can be 10^2+ (surface-level children)
                if len(items) > len(gs):
                    for it in gs:
                        child = items.get(it)
                        if child is not None:
                            stack.append((child, ti + 1, op, cl))
                else:
                    for it, child in items.items():
                        if it in gs:
                            stack.append((child, ti + 1, op, cl))
    out = [
        (op, cl, etype, score, rule_id)
        for (op, cl, etype), (score, rule_id) in best.items()
    ]
    if len(out) > max_matches * 4:
        out.sort(key=lambda m: (-m[3], m[0]))
        del out[max_matches * 4:]
    return out


def resolve_matches(
    matches: list[tuple[int, int, str, float, int]],
) -> list[tuple[int, int, str, float, int]]:
    """mXS-style conflict resolution: best score wins, longer spans break
    ties, then leftmost, then lowest rule_id; greedy non-overlapping.
    Occupancy array instead of an O(picked) scan per candidate — sentences
    are short, so marking token positions is O(span)."""
    if not matches:
        return []
    picked: list[tuple[int, int, str, float, int]] = []
    limit = max(m[1] for m in matches)
    occupied = bytearray(limit)
    for m in sorted(matches, key=lambda m: (-m[3], -(m[1] - m[0]), m[0], m[4])):
        span = occupied[m[0]:m[1]]
        if not any(span):
            picked.append(m)
            for i in range(m[0], m[1]):
                occupied[i] = 1
    picked.sort(key=lambda m: m[0])
    return picked


# --------------------------------------------------------------------------
# Predicate patterns → (subj, pred, obj) pairing within a sentence
# --------------------------------------------------------------------------
#
# A predicate pattern is {"pred": str, "pattern": [item...]} where items are
# entity placeholders "<etype>" (match a resolved mention of that type,
# consuming its token span) or plain items (match one token's gen set).
# First placeholder binds subj, second binds obj.


# Per-process compile cache for the (broadcast-stable) predicate pattern
# list: strips the per-sentence is_marker string tests and placeholder
# slicing out of the hot loop. Keyed by object identity with a strong ref
# kept (no id-reuse hazard); one model per worker process in practice.
_PRED_COMPILED_SRC: list[dict] | None = None
_PRED_COMPILED: tuple[dict, list] = ({}, [])


def _compile_predicates(patterns: list[dict]) -> tuple[dict, list]:
    """(by_first_etype, unanchored) where each compiled pattern is
    (pred, first_etype_or_None, ((etype_or_None, item), ...)) —
    etype_or_None precomputes is_marker(item) and the '<etype>' strip.
    Anchored patterns (first item is an entity placeholder — the common
    case after mining) are bucketed by that etype so a sentence only pays
    for the patterns its mention types can possibly start."""
    global _PRED_COMPILED_SRC, _PRED_COMPILED
    if patterns is _PRED_COMPILED_SRC:
        return _PRED_COMPILED
    by_first: dict[str, list[tuple]] = {}
    unanchored: list[tuple] = []
    for pat in patterns:
        items = tuple(
            (item[1:-1] if is_marker(item) else None, item)
            for item in pat["pattern"]
        )
        compiled = (pat["pred"], items[0][0], items)
        if items[0][0] is not None:
            by_first.setdefault(items[0][0], []).append(compiled)
        else:
            unanchored.append(compiled)
    _PRED_COMPILED_SRC, _PRED_COMPILED = patterns, (by_first, unanchored)
    return _PRED_COMPILED


def match_predicates(
    patterns: list[dict],
    mentions: list[tuple[int, int, str, float, int]],
    gen_sets: list[frozenset],
) -> list[tuple[int, int, str]]:
    """Returns (subj_mention_idx, obj_mention_idx, pred).

    A triple needs two distinct bound mentions, so sentences with fewer
    than two mentions (the vast majority on noise-dominated web text)
    return immediately. Patterns whose first item is an entity placeholder
    (the common case) are anchored at mention-open positions only —
    O(patterns × mentions) instead of O(patterns × tokens) — and bucketed
    by first etype at compile time so only patterns whose first type
    exists in this sentence are tried."""
    if len(mentions) < 2:
        return []
    n = len(gen_sets)
    open_at = {m[0]: i for i, m in enumerate(mentions)}
    by_etype: dict[str, list[int]] = {}
    for m in mentions:
        by_etype.setdefault(m[2], []).append(m[0])
    out: list[tuple[int, int, str]] = []
    by_first, unanchored = _compile_predicates(patterns)
    candidates: list[tuple] = []
    for et, starts in by_etype.items():
        for compiled in by_first.get(et, ()):
            candidates.append((compiled, starts))
    for compiled in unanchored:
        candidates.append((compiled, range(n)))
    for (pred, _first_et, items), starts in candidates:
        for start in starts:
            ti = start
            bound: list[int] = []
            ok = True
            for et, item in items:
                if et is not None:
                    mi = open_at.get(ti)
                    if mi is None or mentions[mi][2] != et:
                        ok = False
                        break
                    bound.append(mi)
                    ti = mentions[mi][1]
                else:
                    if ti >= n or item not in gen_sets[ti]:
                        ok = False
                        break
                    ti += 1
            if ok and len(bound) == 2:
                out.append((bound[0], bound[1], pred))
    return out


# --------------------------------------------------------------------------
# Whole-document tagging (the per-document unit of work for both the
# reference oracle and the Spark mapInArrow batches)
# --------------------------------------------------------------------------


def normalize_surface(s: str) -> str:
    return " ".join(s.lower().split())


# Per-process token → generalization-frozenset memo. Web-text token
# frequency is Zipfian, so the hit rate is high and the per-token
# lower+lexicon-lookup+shape+frozenset work collapses to one dict get on
# the hot path. Keyed by lexicons object identity (strong ref kept — no
# id-reuse hazard); bounded so an adversarial vocabulary can't grow a
# worker's memory without limit.
_GEN_CACHE_LEX: dict | None = None
_GEN_CACHE: dict[str, frozenset] = {}
_GEN_CACHE_MAX = 500_000


def _gen_cache_for(lexicons: dict) -> dict[str, frozenset]:
    global _GEN_CACHE_LEX, _GEN_CACHE
    if lexicons is not _GEN_CACHE_LEX or len(_GEN_CACHE) > _GEN_CACHE_MAX:
        _GEN_CACHE_LEX = lexicons
        _GEN_CACHE = {}
    return _GEN_CACHE


def tag_text(
    text: str,
    trie: list,
    lexicons: dict[str, list[str]],
    pred_patterns: list[dict],
    with_context: bool = True,
) -> tuple[list[dict], list[dict]]:
    """→ (mentions, triples) for one document.

    mention: {sent_id, m_start, m_end, surface, etype, rule_id, score}
    triple:  {sent_id, subj, pred, obj, subj_type, obj_type, conf}
    Offsets are character offsets into `text` (ASCII fixtures ⇒ byte==char).
    """
    mentions_out: list[dict] = []
    triples_out: list[dict] = []
    sent_id = 0
    gen_cache = _gen_cache_for(lexicons)
    for line_start, line in _iter_lines(text):
        toks = tokenize(line)
        for sent in split_sentences(toks):
            gen_sets = []
            for t in sent:
                tok = t[0]
                fs = gen_cache.get(tok)
                if fs is None:
                    fs = frozenset(generalize(tok, lexicons))
                    gen_cache[tok] = fs
                gen_sets.append(fs)
            picked = resolve_matches(match_sentence(trie, gen_sets))
            for op, cl, etype, score, rule_id in picked:
                m_start = line_start + sent[op][1]
                m_end = line_start + sent[cl - 1][2]
                mentions_out.append(
                    {
                        "sent_id": sent_id,
                        "m_start": m_start,
                        "m_end": m_end,
                        "surface": text[m_start:m_end],
                        "etype": etype,
                        "rule_id": rule_id,
                        "score": score,
                        # sentence context minus the mention itself — the
                        # disambiguation signal for U4 context linking;
                        # skipped (empty) when the dictionary carries no
                        # context words, saving string work + checkpoint bytes
                        "context": " ".join(
                            t[0].lower()
                            for i, t in enumerate(sent)
                            if (i < op or i >= cl) and t[0].isalnum()
                        ) if with_context else "",
                    }
                )
            base = len(mentions_out) - len(picked)
            for si, oi, pred in match_predicates(
                pred_patterns, picked, gen_sets
            ):
                subj = mentions_out[base + si]
                obj = mentions_out[base + oi]
                triples_out.append(
                    {
                        "sent_id": sent_id,
                        "subj": normalize_surface(subj["surface"]),
                        "pred": pred,
                        "obj": normalize_surface(obj["surface"]),
                        "subj_type": subj["etype"],
                        "obj_type": obj["etype"],
                        "conf": min(subj["score"], obj["score"]),
                    }
                )
            sent_id += 1
    return mentions_out, triples_out


def _iter_lines(text: str):
    pos = 0
    for line in text.split("\n"):
        yield pos, line
        pos += len(line) + 1


# --------------------------------------------------------------------------
# Annotated-corpus parsing (Etape/Ester2-style inline markers)
# --------------------------------------------------------------------------

_MARKER_RE = re.compile(r"</?([a-z]+)>")


def parse_annotated(line: str) -> tuple[str, list[tuple[int, int, str]]]:
    """'a <pers> B C </pers> d' → ('a B C d', [(2, 5, 'pers')]).

    Returns clean text + gold character spans. Marker tokens must be
    space-separated (the fixture generator guarantees this).
    """
    out: list[str] = []
    spans: list[tuple[int, int, str]] = []
    stack: list[tuple[str, int]] = []
    pos = 0
    for part in line.split(" "):
        m = _MARKER_RE.fullmatch(part)
        if m:
            if part.startswith("</"):
                etype, start = stack.pop()
                spans.append((start, max(start, pos - 1), etype))
            else:
                stack.append((m.group(1), pos))
            continue
        out.append(part)
        pos += len(part) + 1
    return " ".join(out), spans


def annotated_to_relation_pairs(
    line: str,
    lexicons: dict[str, list[str]],
    max_middle: int = 4,
) -> list[tuple[str, str, str, str, list[list[str]]]]:
    """Relation-mining examples from one annotated line (distant
    supervision, SURVEY.md §2.10 M1 extended to predicates).

    For each ADJACENT pair of gold entities in text order (no third entity
    between them) with ≤ max_middle tokens in between, returns
    (subj_norm, obj_norm, stype, otype, seq) where seq is the
    placeholder-bracketed middle in the mXS item representation:

        [["<pers>"], itemset(tok), ..., itemset(tok), ["<org>"]]

    Placeholder cells are singleton marker itemsets, so a predicate
    pattern ["<pers>", item.., "<org>"] matches a seq CONTIGUOUSLY iff it
    covers the whole middle — exactly match_predicates' consumption
    semantics (each non-marker item consumes one token)."""
    clean, spans = parse_annotated(line)
    toks = tokenize(clean)
    ents: list[tuple[int, int, str, str]] = []  # (tok_open, tok_close, etype, norm)
    for s, e, etype in sorted(spans):
        t_open = next((i for i, t in enumerate(toks) if t[1] >= s), None)
        if t_open is None:
            continue
        t_close = t_open
        while t_close < len(toks) and toks[t_close][2] <= e:
            t_close += 1
        if t_close == t_open:
            continue
        ents.append((t_open, t_close, etype, normalize_surface(clean[s:e])))
    out: list[tuple[str, str, str, str, list[list[str]]]] = []
    for (a_open, a_close, a_type, a_norm), (b_open, _bc, b_type, b_norm) in zip(
        ents, ents[1:]
    ):
        middle = toks[a_close:b_open]
        if len(middle) > max_middle:
            continue
        seq: list[list[str]] = [[f"<{a_type}>"]]
        seq.extend(
            sorted(set(generalize(t[0], lexicons))) for t in middle
        )
        seq.append([f"<{b_type}>"])
        out.append((a_norm, b_norm, a_type, b_type, seq))
    return out


def annotated_to_sequence(
    line: str, lexicons: dict[str, list[str]]
) -> list[list[str]]:
    """Training sequence: one itemset per token (its generalization set);
    markers are singleton itemsets interleaved — mXS's core representation,
    directly consumable by pyspark.ml.fpm.PrefixSpan."""
    seq: list[list[str]] = []
    for part in line.split(" "):
        if not part:
            continue
        if _MARKER_RE.fullmatch(part):
            seq.append([part])
        else:
            for tok, _s, _e in tokenize(part):
                seq.append(sorted(set(generalize(tok, lexicons))))
    return seq
