"""Expected KG outputs of a corpus, computed without Spark.

The expectation reuses only the pure-Python oracle pieces
(``oracle.build_oracle_index`` and the brute-force substring matcher) and
re-derives linking, pair classification and predicate routing on plain
Python structures, so it shares no plan or operator code with the pipeline
under test.

A triple set is summarised as (count, hash sum): the sum over triples of the
first 32 bits of sha256("subject\\tpredicate\\tobject"). ``builds.py``
computes the same digest on the pipeline's output inside Spark.
"""

from __future__ import annotations

import hashlib
import html as html_lib
from collections import Counter
from typing import Dict, Iterable, List, Tuple

from kg_microbe_spark.functions.automaton import find_mentions_bruteforce
from kg_microbe_spark.functions.normalize import normalize_name_py
from kg_microbe_spark.oracle import CHEM, ENV, TAXON, build_oracle_index
from kg_microbe_spark.sources import synthetic

from perfbench import corpus

KEEP = {(TAXON, CHEM), (ENV, TAXON)}


def hash32(*fields: str) -> int:
    return int(hashlib.sha256("\t".join(fields).encode()).hexdigest()[:8], 16)


def digest(rows: Iterable[Tuple[str, ...]]) -> Dict[str, int]:
    n = h = 0
    for r in rows:
        n += 1
        h += hash32(*r)
    return {"count": n, "hash": h}


def _main_text(html: bytes) -> str:
    s = html.decode("utf-8")
    start = s.index("<main>") + len("<main>")
    return html_lib.unescape(s[start : s.index("</main>", start)])


def compute(records: List[Dict]) -> Dict:
    lexicon = corpus.vocab().lexicon
    index = build_oracle_index(lexicon)
    patterns = list(index)
    by_curie = {r["curie"]: r for r in lexicon}
    curated = synthetic.curated_pair_predicates()
    defaults = synthetic.CATEGORY_DEFAULT_PREDICATES

    latest: Dict[str, Dict] = {}
    for rec in records:
        prev = latest.get(rec["url"])
        if prev is None or rec["warc_ts"] > prev["warc_ts"]:
            latest[rec["url"]] = rec

    triples, nodes = set(), set()
    n_mentions = n_entities = n_pairs = n_en = 0
    for rec in latest.values():
        if rec["lang"] != "en":
            continue
        n_en += 1
        found = find_mentions_bruteforce(normalize_name_py(_main_text(rec["html"])), patterns)
        n_mentions += len(found)
        ents: Dict[str, str] = {}
        for term in Counter(surface for _s, _e, surface in found):
            row = index[term][1]
            if row["curie"].startswith("SECONDARY:") and row["xrefs"] and row["xrefs"][0] in by_curie:
                row = by_curie[row["xrefs"][0]]
            ents[row["curie"]] = row["category"]
        n_entities += len(ents)
        n_pairs += len(ents) * (len(ents) - 1)
        nodes.update(ents)
        for a, ca in ents.items():
            for b, cb in ents.items():
                if a != b and (ca, cb) in KEEP:
                    pred = curated.get((a, b), defaults.get((ca, cb), synthetic.FALLBACK_PREDICATE))[0]
                    triples.add((a, pred, b))
    return {
        "triples": digest(triples),
        "nodes": digest((n,) for n in nodes),
        "en_pages": n_en,
        "mentions": n_mentions,
        "entities": n_entities,
        "pairs": n_pairs,
    }
