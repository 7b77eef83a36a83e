"""Seeded page corpora for the benchmark workloads.

Every page is a pure function of (workload, seed, page_id) and follows the
conventions of ``kg_microbe_spark.sources.synthetic``: some urls repeat a
neighbour's url with a later ``warc_ts`` (url dedup), a share of pages is
not English (language routing), the text between ``<main>`` tags is the
page text, and mentions are drawn from ``synthetic.build_lexicon()``.

The shares in ``PROFILES`` are stress parameters, chosen so that each
workload loads a different set of pipeline layers; they are not measured
from any real crawl.

- ``kg_dense``: long pages, every row ships ``text``, dozens of distinct
  hub and tail lexicon terms per page, so the mention scan, linking, pair
  generation and merge carry the build.
- ``kg_sparse_html``: most rows ship ``text`` NULL, the html carries large
  boilerplate outside ``<main>``, pages mention few terms, and duplicate
  urls and non-English pages are frequent, so the binary scan, url dedup,
  html extraction and stage writes carry the build.

The corpus is written with pyarrow, outside every timer, and is cached by
(workload, seed, corpus shape).
"""

from __future__ import annotations

import functools
import hashlib
import html as html_lib
import inspect
import os
import random
import sys
from datetime import timedelta
from typing import Dict, List, Optional

from kg_microbe_spark.sources import synthetic

GENERATOR_VERSION = "1"

_LANGS = ["de", "fr", "es", "zh", "pt"]

# Shape of each workload's corpus. ``sentences`` sizes English pages and
# ``other_sentences`` the rest (which extraction and the stage-1 checkpoint
# handle but the mention scan skips); ``hub_scale`` multiplies the synthetic
# hub probabilities; ``dup_every`` makes page_id % dup_every == 1 reuse the
# previous page's url.
#
# kg_sparse_html's shares, and why each has its value:
# - text_null_share 0.9: nine rows in ten go through Python html extraction
#   (the pipeline extracts only text-NULL rows);
# - dup_every 3: one url in three repeats, so the dedup exchange moves full
#   rows, html included, for two rows in three;
# - en_share 0.35: the other 65 % are extracted and written to the stage-1
#   checkpoint but skipped by the mention scan, and their text is long, so
#   per-page extraction and checkpoint bytes grow while the scan stays small;
# - boilerplate: ~20 KB of markup outside <main> per page, bytes that the
#   parquet scan, the dedup exchange and extraction move but that hold no
#   text;
# - hub_scale 0.15 and tail (0, 2): about two linked entities per page, so
#   pairs and merge stay nearly idle.
PROFILES: Dict[str, Dict] = {
    "kg_dense": dict(
        pages=700, files=8, sentences=(30, 50), other_sentences=(30, 50), hub_scale=1.2, tail=(12, 22),
        en_share=0.97, text_null_share=0.0, boilerplate=(0, 0), dup_every=41,
    ),
    "kg_sparse_html": dict(
        pages=3500, files=8, sentences=(4, 14), other_sentences=(40, 80), hub_scale=0.15, tail=(0, 2),
        en_share=0.35, text_null_share=0.9, boilerplate=(200, 300), dup_every=3,
    ),
}

WORKLOADS = tuple(PROFILES)


class Vocab:
    """Lexicon surfaces the generators draw from."""

    def __init__(self) -> None:
        self.lexicon = synthetic.build_lexicon()
        self.hubs = synthetic.hub_terms(self.lexicon)
        active = [r for r in self.lexicon if not r["deprecated"]]
        self.tail = [s for r in active for s in [r["label"], *r["synonyms"]]]


@functools.lru_cache(maxsize=1)
def vocab() -> Vocab:
    return Vocab()


def url_for(workload: str, seed: int, page_id: int) -> str:
    dup_every = PROFILES[workload]["dup_every"]
    if page_id > 0 and page_id % dup_every == 1:
        return url_for(workload, seed, page_id - 1)
    h = hashlib.md5(f"{workload}-{seed}-page-{page_id}".encode()).hexdigest()[:16]
    return f"https://site{page_id % synthetic.N_SITES}.example/{h}"


@functools.lru_cache(maxsize=4 * 32)
def _boilerplate(workload: str, seed: int, variant: int) -> tuple:
    """Navigation, script and footer markup outside ``<main>``: bytes the
    scan and extraction must move but that hold no page text. Pages share
    a few dozen variants, as pages of one site share a template."""
    rng = random.Random(f"{workload}-{seed}-boilerplate-{variant}")
    n_links = rng.randint(*PROFILES[workload]["boilerplate"])
    links = "".join(
        f'<li><a href="/s{rng.randrange(10**6)}/{rng.randrange(10**6):06x}">nav item {i}</a></li>'
        for i in range(n_links)
    )
    script = "".join(f"{rng.getrandbits(64):016x}" for _ in range(n_links // 2))
    head = (
        "<html><head><title>page</title>"
        f"<script>var t='{script}';</script></head><body><nav><ul>{links}</ul></nav>"
    )
    foot = f"<footer><ul>{links[: len(links) // 2]}</ul>all rights reserved</footer></body></html>"
    return head, foot


BOILERPLATE_VARIANTS = 32


def page_record(workload: str, seed: int, page_id: int) -> Dict:
    p = PROFILES[workload]
    v = vocab()
    rng = random.Random(f"{workload}-{seed}-page-{page_id}")
    lang = "en" if rng.random() < p["en_share"] else rng.choice(_LANGS)
    n_sent = rng.randint(*p["sentences" if lang == "en" else "other_sentences"])
    sentences: List[List[str]] = [
        [rng.choice(synthetic._FILLER) for _ in range(rng.randint(4, 12))] for _ in range(n_sent)
    ]
    planted = [s for s, prob in v.hubs if rng.random() < prob * p["hub_scale"]]
    planted += [v.tail[rng.randrange(len(v.tail))] for _ in range(rng.randint(*p["tail"]))]
    for surface in planted:
        s = rng.randrange(n_sent)
        sentences[s].insert(rng.randint(0, len(sentences[s])), surface)
    text = ". ".join(" ".join(words) for words in sentences) + "."
    if p["boilerplate"][1]:
        head, foot = _boilerplate(workload, seed, rng.randrange(BOILERPLATE_VARIANTS))
        html = f'{head}<a href="/p/{page_id}">permalink</a><main>{html_lib.escape(text)}</main>{foot}'
    else:
        html = synthetic._HTML_PREFIX + html_lib.escape(text) + synthetic._HTML_SUFFIX
    return dict(
        url=url_for(workload, seed, page_id),
        warc_ts=synthetic.EPOCH + timedelta(seconds=page_id),
        html=html.encode("utf-8"),
        text=None if rng.random() < p["text_null_share"] else text,
        lang=lang,
    )


def _product_inputs() -> str:
    """Digest of the product code and data a corpus and its expectation
    depend on (lexicon, filler words, predicate maps, the oracle and the
    brute-force matcher), so a change to any of them regenerates both."""
    from kg_microbe_spark import oracle
    from kg_microbe_spark.functions import automaton, normalize

    from perfbench import expect

    h = hashlib.sha256()
    for mod in (synthetic, oracle, automaton, normalize, expect, sys.modules[__name__]):
        with open(inspect.getsourcefile(mod), "rb") as f:
            h.update(f.read())
    h.update(repr((synthetic.build_lexicon(), synthetic.curated_pair_predicates())).encode())
    return h.hexdigest()


def shape_key(workload: str) -> str:
    """Cache key of everything besides the seed that shapes a corpus."""
    shape = repr((GENERATOR_VERSION, BOILERPLATE_VARIANTS, sorted(PROFILES[workload].items()), _product_inputs()))
    return hashlib.sha256(shape.encode()).hexdigest()[:12]


def generate(workload: str, seed: int, n: Optional[int] = None) -> List[Dict]:
    return [page_record(workload, seed, pid) for pid in range(PROFILES[workload]["pages"] if n is None else n)]


def corpus_digest(records: List[Dict]) -> str:
    h = hashlib.sha256()
    for rec in records:
        for k in ("url", "warc_ts", "text", "lang"):
            h.update(repr(rec[k]).encode())
        h.update(rec["html"])
    return h.hexdigest()


def write_corpus(records: List[Dict], files: int, out_dir: str) -> Dict:
    """Write ``records`` as ``files`` parquet files under ``out_dir`` and
    return the corpus stats."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    os.makedirs(out_dir, exist_ok=True)
    recs = records
    per_file = -(-len(recs) // files)
    for i in range(files):
        chunk = recs[i * per_file : (i + 1) * per_file]
        cols = {k: [r[k] for r in chunk] for k in schema.names}
        pq.write_table(pa.table(cols, schema=schema), os.path.join(out_dir, f"part-{i:03d}.parquet"))
    html_bytes = sum(len(r["html"]) for r in recs)
    main_bytes = sum(len(html_lib.escape(synthetic.extract_text_from_html(r["html"])).encode()) for r in recs)
    stats = dict(
        pages=len(recs),
        text_null=sum(r["text"] is None for r in recs),
        html_bytes=html_bytes,
        html_main_bytes=main_bytes,
        distinct_urls=len({r["url"] for r in recs}),
        en_pages=sum(r["lang"] == "en" for r in recs),
        input_bytes=sum(
            os.path.getsize(os.path.join(out_dir, f)) for f in os.listdir(out_dir) if f.endswith(".parquet")
        ),
    )
    return stats
