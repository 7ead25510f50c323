"""Deterministic fixture generator (FIXTURES.md §B). Seed=42, no wall-clock,
no external data. Emits, under an output dir:

  pages.parquet            url, warc_ts, html(binary), text, lang
  gold_mentions.parquet    url, sent_id, m_start, m_end, surface, etype
  gold_triples.parquet     subj, pred, obj, url        (canonical entity ids)
  gold_canon.parquet       entity_id, canon_id
  entity_dict.parquet      surface_norm, entity_id, prior, context_words
  annotated.parquet        doc_id, raw                 (inline-marker corpus)
  gold_spans.parquet       doc_id, start, end, etype

Invariants (FIXTURES.md): pinned_extract(html) == text byte-for-byte;
text[m_start:m_end] == surface; every triple's subj/obj mentioned on the
same url; top host holds ≥20% of rows (Zipf α≈1.2 over ~100 hosts).
"""

from __future__ import annotations

import os
import random
import sys
from datetime import datetime, timedelta, timezone

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from mxsparkg.lexicons import FIRSTNAMES, SURNAMES, TOPONYMS  # noqa: E402
from mxsparkg.textcore import html_escape, normalize_surface  # noqa: E402

ORG_NAMES = ["Axiom", "Boreal", "Cedra", "Delta", "Eterna", "Fluxon",
             "Gamma", "Helios", "Ionis", "Kappa", "Lumen", "Mistral"]

EPOCH = datetime(2026, 1, 1, tzinfo=timezone.utc)


def _entities():
    persons = []
    for i in range(20):
        first = FIRSTNAMES[i].capitalize()
        last = SURNAMES[i].capitalize()
        full = f"{first} {last}"
        persons.append({
            "full": full, "last": last,
            "canon": f"pers:{normalize_surface(full).replace(' ', '_')}",
            # '~' sorts after all letters → component-min canonicalization
            # (graph.connected_components) picks the full-name id as canon
            "alias_id": f"pers:~{normalize_surface(last)}#{i}",
        })
    orgs = []
    for i, name in enumerate(ORG_NAMES):
        fr = f"société {name}"
        en = f"{name} institute"
        orgs.append({
            "fr": fr, "en": en,
            "canon": f"org:{normalize_surface(name)}",
        })
    locs = []
    for t in TOPONYMS:
        locs.append({"surface": t.capitalize(),
                     "canon": f"loc:{normalize_surface(t)}"})
    return persons, orgs, locs


# Each template: (lang, parts, triples). parts items are literal strings or
# slot tuples (kind, role, etype). triples reference roles with canonical pred.
TEMPLATES = [
    ("fr", ["le", "président", ("pers", "P", "full"), "visite", ("loc", "L", "surface"), "."],
     [("P", "visits", "L")]),
    ("fr", [("pers", "P", "full"), "travaille", "pour", "la", ("org", "O", "fr"), "."],
     [("P", "works_for", "O")]),
    ("fr", ["la", ("org", "O", "fr"), "est", "basée", "à", ("loc", "L", "surface"), "."],
     [("O", "based_in", "L")]),
    ("fr", [("pers", "P", "full"), "rencontre", ("pers", "Q", "full"), "."],
     [("P", "meets", "Q")]),
    ("fr", ["madame", ("pers", "P", "full"), "dirige", "la", ("org", "O", "fr"), "."],
     [("P", "leads", "O")]),
    ("fr", ["monsieur", ("pers", "P", "last"), "visite", ("loc", "L", "surface"), "."],
     [("P", "visits", "L")]),
    ("en", ["president", ("pers", "P", "full"), "visits", ("loc", "L", "surface"), "."],
     [("P", "visits", "L")]),
    ("en", [("pers", "P", "full"), "works", "for", "the", ("org", "O", "en"), "."],
     [("P", "works_for", "O")]),
    ("en", ["the", ("org", "O", "en"), "is", "based", "in", ("loc", "L", "surface"), "."],
     [("O", "based_in", "L")]),
    ("en", ["doctor", ("pers", "P", "full"), "leads", "the", ("org", "O", "en"), "."],
     [("P", "leads", "O")]),
]

NOISE = {
    "fr": [["il", "annonce", "une", "réunion", "demain", "."],
           ["les", "résultats", "seront", "publiés", "bientôt", "."],
           ["la", "séance", "est", "levée", "."]],
    "en": [["the", "meeting", "is", "scheduled", "for", "tomorrow", "."],
           ["results", "will", "be", "published", "soon", "."],
           ["the", "session", "is", "closed", "."]],
}


def _render_sentence(rng, lang, persons, orgs, locs):
    """→ (line, mentions[(start,end,surface,etype,canon,alias_id)], triples)."""
    cands = [t for t in TEMPLATES if t[0] == lang]
    _, parts, tspec = cands[rng.randrange(len(cands))]
    bind = {}
    words, mentions = [], []
    pos = 0
    used_pers = []
    for part in parts:
        if isinstance(part, tuple):
            kind, role, field = part
            if role not in bind:
                if kind == "pers":
                    pool = [p for p in persons if p not in used_pers]
                    ent = pool[rng.randrange(len(pool))]
                    used_pers.append(ent)
                elif kind == "org":
                    ent = orgs[rng.randrange(len(orgs))]
                else:
                    ent = locs[rng.randrange(len(locs))]
                bind[role] = (kind, ent, field)
            kind, ent, field = bind[role]
            surface = ent[field] if field in ent else ent["surface"]
            start = pos
            end = pos + len(surface)
            alias_id = (ent["alias_id"] if kind == "pers" and field == "last"
                        else ent["canon"])
            mentions.append((start, end, surface,
                             {"pers": "pers", "org": "org", "loc": "loc"}[kind],
                             ent["canon"], alias_id))
            words.append(surface)
            pos = end + 1
        else:
            words.append(part)
            pos += len(part) + 1
    line = " ".join(words)
    triples = []
    for s_role, pred, o_role in tspec:
        triples.append((bind[s_role][1]["canon"], pred, bind[o_role][1]["canon"]))
    return line, mentions, triples


def _zipf_hosts(rng, n_hosts=100, alpha=1.2):
    weights = [1.0 / (k ** alpha) for k in range(1, n_hosts + 1)]
    total = sum(weights)
    return [f"host{k:03d}.example.org" for k in range(n_hosts)], \
           [w / total for w in weights]


def generate(out_dir: str, n_pages: int = 500, n_annotated: int = 2000,
             seed: int = 42) -> None:
    rng = random.Random(seed)
    persons, orgs, locs = _entities()
    hosts, hweights = _zipf_hosts(rng)
    os.makedirs(out_dir, exist_ok=True)

    pages = {k: [] for k in ["url", "warc_ts", "html", "text", "lang"]}
    gm = {k: [] for k in ["url", "sent_id", "m_start", "m_end", "surface", "etype"]}
    gt = {k: [] for k in ["subj", "pred", "obj", "url"]}

    for i in range(n_pages):
        lang = "fr" if rng.random() < 0.6 else "en"
        host = rng.choices(hosts, weights=hweights, k=1)[0]
        url = f"https://{host}/page/{i}"
        n_sent = rng.randint(2, 6)
        lines, page_triples = [], []
        sent_id, text_pos = 0, 0
        for _ in range(n_sent):
            if rng.random() < 0.25:
                line = " ".join(NOISE[lang][rng.randrange(len(NOISE[lang]))])
                mentions, triples = [], []
            else:
                line, mentions, triples = _render_sentence(
                    rng, lang, persons, orgs, locs)
            for (s, e, surf, etype, _canon, _alias) in mentions:
                gm["url"].append(url)
                gm["sent_id"].append(sent_id)
                gm["m_start"].append(text_pos + s)
                gm["m_end"].append(text_pos + e)
                gm["surface"].append(surf)
                gm["etype"].append(etype)
            page_triples.extend(triples)
            lines.append(line)
            text_pos += len(line) + 1
            sent_id += 1
        text = "\n".join(lines)
        body = "".join(f"<p>{html_escape(ln)}</p>" for ln in lines)
        html = (f"<html><head><title></title>"
                f"<script>var x=1;</script></head>"
                f"<body>{body}</body></html>").encode("utf-8")
        pages["url"].append(url)
        pages["warc_ts"].append(EPOCH + timedelta(seconds=i * 97 + (i % 13)))
        pages["html"].append(html)
        pages["text"].append(text)
        pages["lang"].append(lang)
        for s, p, o in sorted(set(page_triples)):
            gt["subj"].append(s)
            gt["pred"].append(p)
            gt["obj"].append(o)
            gt["url"].append(url)

    pq.write_table(pa.table({
        "url": pa.array(pages["url"], pa.string()),
        "warc_ts": pa.array(pages["warc_ts"], pa.timestamp("us", tz="UTC")),
        "html": pa.array(pages["html"], pa.binary()),
        "text": pa.array(pages["text"], pa.string()),
        "lang": pa.array(pages["lang"], pa.string()),
    }), os.path.join(out_dir, "pages.parquet"),
        # many row groups ⇒ the file is splittable into input partitions,
        # like a real multi-file crawl segment; without this the whole U1
        # extract stage would run as ONE task regardless of cluster size
        row_group_size=512)
    pq.write_table(pa.table({
        "url": pa.array(gm["url"], pa.string()),
        "sent_id": pa.array(gm["sent_id"], pa.int32()),
        "m_start": pa.array(gm["m_start"], pa.int32()),
        "m_end": pa.array(gm["m_end"], pa.int32()),
        "surface": pa.array(gm["surface"], pa.string()),
        "etype": pa.array(gm["etype"], pa.string()),
    }), os.path.join(out_dir, "gold_mentions.parquet"))
    pq.write_table(pa.table({k: pa.array(v, pa.string()) for k, v in gt.items()}),
                   os.path.join(out_dir, "gold_triples.parquet"))

    # ---- entity dictionary + alias clusters (canonicalization truth) ----
    ed = {"surface_norm": [], "entity_id": [], "prior": [], "context_words": []}
    gc = {"entity_id": [], "canon_id": []}
    for p in persons:
        ed["surface_norm"].append(normalize_surface(p["full"]))
        ed["entity_id"].append(p["canon"])
        ed["prior"].append(0.9)
        ed["context_words"].append([])
        ed["surface_norm"].append(normalize_surface(p["last"]))
        ed["entity_id"].append(p["alias_id"])
        ed["prior"].append(0.5)
        ed["context_words"].append([])
        gc["entity_id"].append(p["canon"])
        gc["canon_id"].append(p["canon"])
        gc["entity_id"].append(p["alias_id"])
        gc["canon_id"].append(p["canon"])
    for o in orgs:
        for f in ("fr", "en"):
            ed["surface_norm"].append(normalize_surface(o[f]))
            ed["entity_id"].append(o["canon"])
            ed["prior"].append(0.8)
            ed["context_words"].append([])
        gc["entity_id"].append(o["canon"])
        gc["canon_id"].append(o["canon"])
    for loc in locs:
        ed["surface_norm"].append(normalize_surface(loc["surface"]))
        ed["entity_id"].append(loc["canon"])
        ed["prior"].append(0.8)
        ed["context_words"].append([])
        gc["entity_id"].append(loc["canon"])
        gc["canon_id"].append(loc["canon"])
    pq.write_table(pa.table({
        "surface_norm": pa.array(ed["surface_norm"], pa.string()),
        "entity_id": pa.array(ed["entity_id"], pa.string()),
        "prior": pa.array(ed["prior"], pa.float64()),
        "context_words": pa.array(ed["context_words"], pa.list_(pa.string())),
    }), os.path.join(out_dir, "entity_dict.parquet"))
    pq.write_table(pa.table({k: pa.array(v, pa.string()) for k, v in gc.items()}),
                   os.path.join(out_dir, "gold_canon.parquet"))

    # ---- annotated training corpus (Etape/Ester2-STYLE inline markers) ----
    ann = {"doc_id": [], "raw": []}
    gs = {"doc_id": [], "start": [], "end": [], "etype": []}
    seed = set()  # (subj_norm, pred, obj_norm) — the distant-supervision KG
    for i in range(n_annotated):
        lang = "fr" if rng.random() < 0.7 else "en"
        line, mentions, sent_triples = _render_sentence(
            rng, lang, persons, orgs, locs)
        canon2surf = {}
        for (_s, _e, surf, _etype, canon, _a) in mentions:
            canon2surf.setdefault(canon, normalize_surface(surf))
        for s, p, o in sent_triples:
            seed.add((canon2surf[s], p, canon2surf[o]))
        # re-render with inline space-separated markers
        raw_words, clean_pos = [], 0
        spans = sorted(mentions, key=lambda m: m[0])
        cursor = 0
        for (s, e, surf, etype, _c, _a) in spans:
            pre = line[cursor:s].strip()
            if pre:
                raw_words.extend(pre.split(" "))
            raw_words.append(f"<{etype}>")
            raw_words.extend(surf.split(" "))
            raw_words.append(f"</{etype}>")
            cursor = e
        tail = line[cursor:].strip()
        if tail:
            raw_words.extend(tail.split(" "))
        ann["doc_id"].append(i)
        ann["raw"].append(" ".join(raw_words))
        for (s, e, _surf, etype, _c, _a) in spans:
            gs["doc_id"].append(i)
            gs["start"].append(s)
            gs["end"].append(e)
            gs["etype"].append(etype)
    pq.write_table(pa.table({
        "doc_id": pa.array(ann["doc_id"], pa.int64()),
        "raw": pa.array(ann["raw"], pa.string()),
    }), os.path.join(out_dir, "annotated.parquet"), row_group_size=512)
    pq.write_table(pa.table({
        "doc_id": pa.array(gs["doc_id"], pa.int64()),
        "start": pa.array(gs["start"], pa.int32()),
        "end": pa.array(gs["end"], pa.int32()),
        "etype": pa.array(gs["etype"], pa.string()),
    }), os.path.join(out_dir, "gold_spans.parquet"))
    srl = sorted(seed)
    pq.write_table(pa.table({
        "subj_norm": pa.array([s for s, _, _ in srl], pa.string()),
        "pred": pa.array([p for _, p, _ in srl], pa.string()),
        "obj_norm": pa.array([o for _, _, o in srl], pa.string()),
    }), os.path.join(out_dir, "seed_relations.parquet"))


_FIXTURE_VERSION = "v4"  # bump when generate() gains/changes output files


def ensure_fixtures(scale: str = "tiny", base: str = "/tmp/mxsparkg_fixtures") -> str:
    """Generate-on-demand, cached by scale+version. Deterministic ⇒ safe
    to reuse; a version bump regenerates stale cached dirs in place."""
    n = {"tiny": 500, "small": 5000, "bench": 50000, "bench_xl": 200000}[scale]
    out = os.path.join(base, scale)
    marker = os.path.join(out, "_SUCCESS")
    stamp = None
    if os.path.exists(marker):
        with open(marker) as f:
            stamp = f.read().strip()
    if stamp != _FIXTURE_VERSION:
        generate(out, n_pages=n, n_annotated=2000 if scale != "tiny" else 500)
        with open(marker, "w") as f:
            f.write(_FIXTURE_VERSION)
    return out


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", default="tiny")
    ap.add_argument("--base", default="/tmp/mxsparkg_fixtures")
    args = ap.parse_args()
    print(ensure_fixtures(args.scale, args.base))


# ---------------------------------------------------------------------------
# Ambiguous-linking corpus (context disambiguation at corpus scale)
# ---------------------------------------------------------------------------

AMBIG_TEMPLATES = [
    # (suffix sentence after the tagged surname, context_words, entity tag)
    ("dirige la société Axiom .", ["dirige", "société", "axiom"], "a"),
    ("visite le port de Marseille .", ["visite", "port", "marseille"], "b"),
]


def generate_ambig(out_dir: str, n_pages: int = 200, seed: int = 43) -> None:
    """Seeded corpus where every detected mention's surface is AMBIGUOUS
    between two dictionary entities with EQUAL priors; only the sentence
    context (matched against each candidate's context_words) decides.
    Emits pages/entity_dict/aliases plus gold_links(url, entity_id)."""
    from mxsparkg.lexicons import SURNAMES

    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    pages = {k: [] for k in ["url", "warc_ts", "html", "text", "lang"]}
    ed = {"surface_norm": [], "entity_id": [], "prior": [], "context_words": []}
    gl = {"url": [], "surface_norm": [], "entity_id": []}
    gc = {"entity_id": [], "canon_id": []}

    ents = {}
    for s in SURNAMES[:10]:
        for tag, first in (("a", "jean"), ("b", "marie")):
            eid = f"pers:{first}_{s}"
            tpl = next(t for t in AMBIG_TEMPLATES if t[2] == tag)
            ed["surface_norm"].append(s)
            ed["entity_id"].append(eid)
            ed["prior"].append(0.6)
            ed["context_words"].append(tpl[1])
            gc["entity_id"].append(eid)
            gc["canon_id"].append(eid)
            ents[(s, tag)] = eid

    for i in range(n_pages):
        s = SURNAMES[rng.randrange(10)]
        suffix, _cw, tag = AMBIG_TEMPLATES[rng.randrange(2)]
        line = f"monsieur {s.capitalize()} {suffix}"
        url = f"https://ambig.example/page/{i}"
        html = (f"<html><head></head><body><p>{html_escape(line)}</p>"
                f"</body></html>").encode("utf-8")
        pages["url"].append(url)
        pages["warc_ts"].append(EPOCH + timedelta(seconds=i * 61))
        pages["html"].append(html)
        pages["text"].append(line)
        pages["lang"].append("fr")
        gl["url"].append(url)
        gl["surface_norm"].append(s)
        gl["entity_id"].append(ents[(s, tag)])

    pq.write_table(pa.table({
        "url": pa.array(pages["url"], pa.string()),
        "warc_ts": pa.array(pages["warc_ts"], pa.timestamp("us", tz="UTC")),
        "html": pa.array(pages["html"], pa.binary()),
        "text": pa.array(pages["text"], pa.string()),
        "lang": pa.array(pages["lang"], pa.string()),
    }), os.path.join(out_dir, "pages.parquet"), row_group_size=512)
    pq.write_table(pa.table({
        "surface_norm": pa.array(ed["surface_norm"], pa.string()),
        "entity_id": pa.array(ed["entity_id"], pa.string()),
        "prior": pa.array(ed["prior"], pa.float64()),
        "context_words": pa.array(ed["context_words"], pa.list_(pa.string())),
    }), os.path.join(out_dir, "entity_dict.parquet"))
    pq.write_table(pa.table({k: pa.array(v, pa.string()) for k, v in gc.items()}),
                   os.path.join(out_dir, "gold_canon.parquet"))
    pq.write_table(pa.table({k: pa.array(v, pa.string()) for k, v in gl.items()}),
                   os.path.join(out_dir, "gold_links.parquet"))


def ensure_ambig(base: str = "/tmp/mxsparkg_fixtures") -> str:
    out = os.path.join(base, "ambig")
    if not os.path.exists(os.path.join(out, "gold_links.parquet")):
        generate_ambig(out)
    return out


# ---------------------------------------------------------------------------
# Relation-paraphrase corpus (predicate mining: train/test entity split,
# paraphrases per predicate, a high-variance adverb slot that FORCES
# shape-level generalization, and negative pair sentences)
# ---------------------------------------------------------------------------

# parts: literal token, ("ADV",) varying-adverb slot, or entity slot
# ("pers"|"org", role). pred=None ⇒ negative (no relation planted).
REL_TEMPLATES = [
    ("works_for", [("pers", "P"), "travaille", "pour", "la", ("org", "O")]),
    ("works_for", [("pers", "P"), "est", "employé", "par", ("org", "O")]),
    ("works_for", [("pers", "P"), "works", "for", "the", ("org", "O")]),
    ("leads", [("pers", "P"), "dirige", "la", ("org", "O")]),
    ("leads", [("pers", "P"), "pilote", "la", ("org", "O")]),
    # 'rejoint <adverb> la': the adverb pool is larger than min_support, so
    # no surface-level pattern is frequent — the miner MUST generalize the
    # middle item to its shape class to cover this predicate
    ("joins", [("pers", "P"), "rejoint", ("ADV",), "la", ("org", "O")]),
    ("meets", [("pers", "P"), "rencontre", ("pers", "Q")]),
    (None, [("pers", "P"), "salue", ("pers", "Q")]),
    (None, [("pers", "P"), "greets", ("pers", "Q")]),
]

ADVERBS = [f"adverbe{i:02d}" for i in range(40)]


def _render_relation(rng, tpl, persons, orgs, adv_pool):
    """→ (annotated_line, clean_line, triples[(subj_norm, pred, obj_norm)])."""
    pred, parts = tpl
    bind = {}
    raw_words, clean_words = [], []
    used = []
    for part in parts:
        if isinstance(part, tuple) and part[0] == "ADV":
            adv = adv_pool[rng.randrange(len(adv_pool))]
            raw_words.append(adv)
            clean_words.append(adv)
        elif isinstance(part, tuple):
            kind, role = part
            if role not in bind:
                if kind == "pers":
                    pool = [p for p in persons if p not in used]
                    ent = pool[rng.randrange(len(pool))]
                    used.append(ent)
                    surface, etype = ent["full"], "pers"
                else:
                    ent = orgs[rng.randrange(len(orgs))]
                    # language follows the template's function words
                    surface = ent["fr"] if "la" in parts else ent["en"]
                    etype = "org"
                bind[role] = (surface, etype)
            surface, etype = bind[role]
            raw_words.append(f"<{etype}>")
            raw_words.extend(surface.split(" "))
            raw_words.append(f"</{etype}>")
            clean_words.append(surface)
        else:
            raw_words.append(part)
            clean_words.append(part)
    raw_words.append(".")
    clean_words.append(".")
    triples = []
    if pred is not None:
        roles = [r for p in parts
                 if isinstance(p, tuple) and p[0] != "ADV"
                 for r in [p[1]]]
        subj, obj = bind[roles[0]][0], bind[roles[1]][0]
        triples.append((normalize_surface(subj), pred, normalize_surface(obj)))
    return " ".join(raw_words), " ".join(clean_words), triples


def _rel_entities():
    """LARGE pools for the relation corpus: name cross-products give 600
    persons and 132 orgs, so a given (subj, obj) pair rarely repeats across
    predicates — keeping distant-supervision label noise (the same pair
    seen under two relations) realistic instead of dominant."""
    persons = []
    for f in FIRSTNAMES:
        for s in SURNAMES:
            persons.append({"full": f"{f.capitalize()} {s.capitalize()}"})
    orgs = []
    for a in ORG_NAMES:
        for b in ORG_NAMES:
            if a != b:
                orgs.append({"fr": f"société {a}{b}",
                             "en": f"{a}{b} institute"})
    return persons, orgs


def generate_relations(out_dir: str, n_train: int = 600, n_test: int = 200,
                       seed: int = 44) -> None:
    """Emits rel_train_annotated.parquet (doc_id, raw),
    seed_relations.parquet (subj_norm, pred, obj_norm — train entity pairs
    only), rel_test.parquet (doc_id, text) and rel_test_gold.parquet
    (doc_id, subj_norm, pred, obj_norm). Train and test draw DISJOINT
    entity pools, so mined patterns must generalize beyond the seed KG."""
    rng = random.Random(seed)
    persons, orgs = _rel_entities()
    half_p, half_o = len(persons) // 2, len(orgs) // 2
    p_train, p_test = persons[:half_p], persons[half_p:]
    o_train, o_test = orgs[:half_o], orgs[half_o:]
    os.makedirs(out_dir, exist_ok=True)

    ann = {"doc_id": [], "raw": []}
    seed_rel = set()
    for i in range(n_train):
        tpl = REL_TEMPLATES[rng.randrange(len(REL_TEMPLATES))]
        raw, _clean, triples = _render_relation(
            rng, tpl, p_train, o_train, ADVERBS)
        ann["doc_id"].append(i)
        ann["raw"].append(raw)
        seed_rel.update(triples)
    pq.write_table(pa.table({
        "doc_id": pa.array(ann["doc_id"], pa.int64()),
        "raw": pa.array(ann["raw"], pa.string()),
    }), os.path.join(out_dir, "rel_train_annotated.parquet"),
        row_group_size=128)
    srl = sorted(seed_rel)
    pq.write_table(pa.table({
        "subj_norm": pa.array([s for s, _, _ in srl], pa.string()),
        "pred": pa.array([p for _, p, _ in srl], pa.string()),
        "obj_norm": pa.array([o for _, _, o in srl], pa.string()),
    }), os.path.join(out_dir, "seed_relations.parquet"))

    test = {"doc_id": [], "text": []}
    gold = {"doc_id": [], "subj_norm": [], "pred": [], "obj_norm": []}
    for i in range(n_test):
        tpl = REL_TEMPLATES[rng.randrange(len(REL_TEMPLATES))]
        _raw, clean, triples = _render_relation(
            rng, tpl, p_test, o_test, ADVERBS)
        test["doc_id"].append(i)
        test["text"].append(clean)
        for s, p, o in triples:
            gold["doc_id"].append(i)
            gold["subj_norm"].append(s)
            gold["pred"].append(p)
            gold["obj_norm"].append(o)
    pq.write_table(pa.table({
        "doc_id": pa.array(test["doc_id"], pa.int64()),
        "text": pa.array(test["text"], pa.string()),
    }), os.path.join(out_dir, "rel_test.parquet"))
    pq.write_table(pa.table({
        "doc_id": pa.array(gold["doc_id"], pa.int64()),
        "subj_norm": pa.array(gold["subj_norm"], pa.string()),
        "pred": pa.array(gold["pred"], pa.string()),
        "obj_norm": pa.array(gold["obj_norm"], pa.string()),
    }), os.path.join(out_dir, "rel_test_gold.parquet"))


def ensure_relations(base: str = "/tmp/mxsparkg_fixtures") -> str:
    out = os.path.join(base, "relations")
    if not os.path.exists(os.path.join(out, "rel_test_gold.parquet")):
        generate_relations(out)
    return out
